#!/usr/bin/env python3
"""graft benchmark: one closed-loop run of one workload.

Usage (from the repository root):
    python3 perfbench/run.py --workload graph-iter --seed 1 --seconds 15 --trace 0

Builds the program from source on first use (sbt, offline; cached under
.perfbench/), generates the fixed input tables (`perfbench.MakeData`,
from graft's own `MakeScaleData`), runs one
JVM (`perfbench.Runner`) that drives graft on `local[nproc]`, checks
every query execution against the DuckDB oracle, and prints as its last
line one JSON object: {"correct", "attempted", "failed", "metrics"}.
`--trace 0` reports the end-to-end metrics, `--trace 1` the per-layer
metrics of the traced run. The line before it carries the run's context
(co-tenant load, pass count, failures). The full run record, with the
span tree of a traced run, is kept under .perfbench/results/.

The seed permutes the query order within each pass; the tables do not
depend on it.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import metrics  # noqa: E402

# Workload -> queries (`SparkEntry.queries` names). NOTES.md records why
# each workload holds these queries and which were left out.
WORKLOADS = {
    # Iterative graph loops: stage scheduling and Checkpoints bound.
    "graph-iter": ["q14_pagerank", "q15_connected_components"],
    # Set-similarity join (task CPU, shuffle and GC bound) beside a
    # ParquetSink write and read-back and a streaming query into a
    # memory sink.
    "dedup-sim": ["q99_setsim_join", "q155_sink_roundtrip",
                  "q216_hopping_stream"],
}

BUILD_TIMEOUT_S = 600
DATA_TIMEOUT_S = 600
RUN_TIMEOUT_S = 150
# A fixed heap (-Xms = -Xmx). With the JVM's default (252 MB, shrunk
# after every explicit GC), G1 started a concurrent marking cycle on
# nearly every humongous allocation, and in 2 of 10 runs that marking
# took as much CPU as the queries.
JVM_HEAP = "2g"
JVM_GC = [f"-Xms{JVM_HEAP}", "-XX:+UseG1GC"]
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


class BenchError(Exception):
    pass


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def _tree_hash(paths):
    h = hashlib.sha256()
    for top in paths:
        files = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def _run(cmd, timeout, log_path, **kw):
    """Run `cmd` in its own process group with output to `log_path`; on
    timeout kill the whole group. Returns the exit code."""
    with open(log_path, "w") as out:
        proc = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT,
                                start_new_session=True, **kw)
        try:
            return proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise BenchError(f"{cmd[0]} timed out after {timeout}s; see {log_path}")
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()


def _tail(path, n=30):
    with open(path, errors="replace") as f:
        return "".join(f.readlines()[-n:])


def spark_home():
    """The installed Spark whose jars graft compiles and runs against:
    $SPARK_HOME, else the first `spark-submit` on the PATH that sits in
    a Spark distribution (next to a `jars/` directory)."""
    homes = [os.environ.get("SPARK_HOME", "")]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        submit = os.path.join(d, "spark-submit")
        if os.path.isfile(submit):
            homes.append(os.path.dirname(os.path.dirname(os.path.realpath(submit))))
    for home in homes:
        if home and glob.glob(os.path.join(home, "jars", "spark-core_*.jar")):
            return home
    raise BenchError("no Spark distribution: set SPARK_HOME")


def build():
    """Compile graft plus the benchmark runner; returns the classpath.
    Skipped when no source or build file changed since the last build."""
    inputs = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
              os.path.join(HERE, "build.sbt"),
              os.path.join(HERE, "project", "build.properties")]
    stamp = _tree_hash(inputs)
    bdir = os.path.join(WORK, "build")
    cp_file = os.path.join(bdir, f"classpath-{stamp[:16]}.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            return f.read().strip()
    os.makedirs(bdir, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline",
               SPARK_HOME=spark_home())
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log_path = os.path.join(bdir, "sbt.log")
    log("building (sbt compile)")
    t0 = time.monotonic()
    code = _run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                 "export Compile/fullClasspath"],
                BUILD_TIMEOUT_S, log_path, cwd=HERE, env=env)
    if code != 0:
        raise BenchError(f"build failed (exit {code}):\n{_tail(log_path)}")
    with open(log_path) as f:
        cps = [l.strip() for l in f if "scala-2.13/classes" in l
               and not l.startswith("[")]
    if not cps:
        raise BenchError(f"build printed no classpath:\n{_tail(log_path)}")
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    log(f"built in {time.monotonic() - t0:.0f}s")
    return cps[-1]


def java(cp, main, args, props=()):
    """The command that runs `main` of the classpath `cp` on the JVM."""
    cmd = ["java"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd + [f"-Xmx{JVM_HEAP}", *JVM_GC, "-Duser.timezone=UTC",
                  "-Dspark.ui.enabled=false", *props, "-cp", cp, main, *args]


def data_dir(cp, n_cores):
    """The input tables, made once per version of their generator."""
    gen = [os.path.join(ROOT, "src", "main", "scala", "graft", "tools",
                        "MakeScaleData.scala"),
           os.path.join(HERE, "src", "main", "scala", "perfbench",
                        "MakeData.scala")]
    out = os.path.join(WORK, "data", _tree_hash(gen)[:16])
    if os.path.exists(os.path.join(out, "_done")):
        return out
    log("generating the input tables")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    tmp = os.path.join(WORK, "tmp", "data")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    log_path = os.path.join(WORK, "logs", "data.log")
    os.makedirs(os.path.dirname(log_path), exist_ok=True)
    try:
        code = _run(java(cp, "perfbench.MakeData", [out, str(n_cores)],
                         [f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}"]),
                    DATA_TIMEOUT_S, log_path, cwd=tmp)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    if code != 0:
        raise BenchError(f"table generation failed (exit {code}):\n{_tail(log_path)}")
    open(os.path.join(out, "_done"), "w").close()
    return out


def box_sample():
    """(steal ticks, total ticks) from /proc/stat, or None."""
    try:
        with open("/proc/stat") as f:
            ticks = [int(x) for x in f.readline().split()[1:]]
        return ticks[7] if len(ticks) > 7 else 0, sum(ticks[:8])
    except OSError:
        return None


def box_context(before, after):
    ctx = {}
    if before and after and after[1] > before[1]:
        ctx["box.steal_frac"] = (after[0] - before[0]) / (after[1] - before[1])
    try:
        with open("/proc/loadavg") as f:
            ctx["box.load_avg"] = float(f.read().split()[0])
    except OSError:
        pass
    return ctx


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def run_jvm(cp, data, args, queries, n_cores, tag):
    tmp = os.path.join(WORK, "tmp", tag)
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    out = os.path.join(tmp, "record.json")
    cmd = java(cp, "perfbench.Runner", [
        "--data", data,
        "--queries", ",".join(queries),
        "--seed", str(args.seed), "--seconds", str(args.seconds),
        "--trace", str(args.trace), "--cores", str(n_cores),
        "--warehouse", os.path.join(tmp, "warehouse"),
        "--out", out, "--launch-ms", repr(time.time() * 1000)], [
        f"-Djava.io.tmpdir={tmp}",
        f"-Dgraft.fixtures.dir={os.path.join(ROOT, 'src', 'test', 'resources')}",
        f"-Dspark.local.dir={tmp}"])
    log_path = os.path.join(WORK, "logs", f"{tag}.log")
    os.makedirs(os.path.dirname(log_path), exist_ok=True)
    try:
        code = _run(cmd, RUN_TIMEOUT_S, log_path, cwd=tmp)
        if code != 0 or not os.path.exists(out):
            raise BenchError(f"run failed (exit {code}):\n{_tail(log_path)}")
        with open(out) as f:
            return json.load(f)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def check(record, data):
    """Mark each execution with its failure (exception or oracle
    mismatch), or None."""
    import oracle
    orc = oracle.Oracle(data, os.path.join(WORK, "oracle-cache"))
    answers = {q: orc.answer(sql) for q, sql in record["oracle_sql"].items()}
    for e in record["executions"]:
        if e["error"]:
            e["failure"] = "exception: " + e["error"]
        elif e["query"] not in answers:
            e["failure"] = "no oracle SQL"
        else:
            e["failure"] = oracle.compare(e, answers[e["query"]])


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--queries", help="comma-separated queries to run instead "
                    "of the workload's (diagnostics, e.g. tracing one query)")
    args = ap.parse_args()
    queries = args.queries.split(",") if args.queries else WORKLOADS[args.workload]
    if not os.path.exists(os.path.join(ROOT, "src", "main", "scala",
                                       "graft", "SparkEntry.scala")):
        raise BenchError(f"no graft sources under {ROOT}/src/main/scala")

    cp = build()
    n_cores = cores()
    data = data_dir(cp, n_cores)
    tag = (f"{args.workload}{'-custom' if args.queries else ''}"
           f"-s{args.seed}-t{args.trace}")
    before = box_sample()
    record = run_jvm(cp, data, args, queries, n_cores, tag)
    box = box_context(before, box_sample())
    check(record, data)

    execs = record["executions"]
    failures = [e for e in execs if e["failure"]]
    for e in failures:
        log(f"FAIL {e['query']} ({e['pass']}): {e['failure']}")
    if args.trace:
        values = metrics.per_layer(record, n_cores)
        values.update(box)
        units = metrics.PER_LAYER_UNITS
    else:
        values = metrics.end_to_end(record)
        units = metrics.END_TO_END_UNITS
    result = {
        "correct": not failures,
        "attempted": len(execs),
        "failed": len(failures),
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()},
    }
    timed = [p for p in record["passes"] if p["timed"]]
    context = dict(box, workload=args.workload, seed=args.seed,
                   trace=args.trace, cores=n_cores, timed_passes=len(timed),
                   queries=len(queries),
                   failures=[f"{e['query']}@{e['pass']}: {e['failure']}"
                             for e in failures])
    rdir = os.path.join(WORK, "results")
    os.makedirs(rdir, exist_ok=True)
    with open(os.path.join(rdir, f"{tag}.json"), "w") as f:
        json.dump({"result": result, "context": context, "record": record}, f)
    if args.trace:
        with open(os.path.join(rdir, f"{tag}-spans.json"), "w") as f:
            json.dump(metrics.span_tree(record), f, indent=1)
    print("context " + json.dumps(context))
    print(json.dumps(result), flush=True)


def _terminate(signum, frame):
    # unwinds through _run, which kills the child's process group
    raise BenchError(f"stopped by signal {signum}")


if __name__ == "__main__":
    signal.signal(signal.SIGTERM, _terminate)
    try:
        main()
    except BenchError as e:
        log(str(e))
        sys.exit(2)
