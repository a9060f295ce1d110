"""Metrics of one benchmark run, computed from the run record the JVM
writes (`Runner.scala`) and, for a traced run, the events `Recorder.scala`
captured. Pure functions; `tests/test_metrics.py` covers them."""
import math
import re
import statistics

GRAFT_FRAME = re.compile(r"^\s*(graft|perfbench)\.([\w$.]+)\(")


def quartiles(xs):
    """(q1, median, q3) as `statistics.quantiles(xs, n=4)` gives them."""
    return tuple(statistics.quantiles(xs, n=4))


def spread(xs):
    """Interquartile range as a share of the median."""
    q1, q2, q3 = quartiles(xs)
    return (q3 - q1) / q2


def geomean(xs):
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def core_util(run_ms, wall_ms, cores):
    """Share of the available core time that tasks ran: run / (wall x cores)."""
    return run_ms / (wall_ms * cores)


def task_skew(stages):
    """Max over mean task run time within each stage, averaged over stages
    weighted by their total task run time. 1.0 means perfectly even."""
    total = sum(s["run_ms"] for s in stages if s["tasks"] > 0)
    if total <= 0:
        return 1.0
    return sum(s["max_run_ms"] / (s["run_ms"] / s["tasks"]) * s["run_ms"]
               for s in stages if s["tasks"] > 0 and s["run_ms"] > 0) / total


def failed_frac(executions):
    """Share of query executions that threw or failed the oracle check."""
    return sum(1 for e in executions if e["failure"]) / len(executions)


def call_site(details, description=""):
    """Layer that issued a SQL execution or job, from its call site: the
    top-most graft or benchmark frame of the long call site.

    'ckpt' for `Checkpoints.scala`, 'eager' for any other graft file,
    'result' for the benchmark's own calls, 'other' when no such frame
    exists. Without a long form, the short form's file name decides."""
    for line in (details or "").splitlines():
        m = GRAFT_FRAME.match(line)
        if m:
            if m.group(1) == "perfbench":
                return "result"
            return "ckpt" if m.group(2).startswith("Checkpoints$") else "eager"
    m = re.search(r" at (\w+)\.scala:\d+", description or "")
    if m:
        name = m.group(1)
        return {"Checkpoints": "ckpt", "Runner": "result"}.get(name, "eager")
    return "other"


def end_to_end(record):
    """End-to-end metrics of an untraced run (seconds, MB, shares)."""
    timed = [p for p in record["passes"] if p["timed"]]
    execs = record["executions"]
    texecs = [e for e in execs if e["timed"]]
    per_query = {}
    for e in texecs:
        per_query.setdefault(e["query"], []).append(e["wall_ms"] / 1000)
    cpu = {}
    for e in texecs:
        cpu[e["pass"]] = cpu.get(e["pass"], 0.0) + e["cpu_ms"] / 1000
    return {
        "setup_s": (record["first_timed_ms"] - record["launch_ms"]) / 1000,
        "wall_s": statistics.median([p["wall_ms"] / 1000 for p in timed]),
        "query_geomean_s": geomean([statistics.median(v) for v in per_query.values()]),
        "cpu_s": statistics.median(list(cpu.values())),
        "retained_heap_mb": max(e["heap_mb"] for e in texecs),
        "ok_frac": 1.0 - failed_frac(execs),
    }


def _pass_of(tags):
    for t in tags:
        if t.startswith("perfbench:"):
            return t[len("perfbench:"):].split("/")[0]
    return None


def attribute(trace, passes):
    """Group a traced run's executions, jobs and stages by the pass that
    issued them. Jobs and executions carry the job tag of the span they
    ran in; untagged ones fall back to the pass whose window holds their
    start."""
    def by_time(t):
        for p in passes:
            if p["start"] - 1 <= t <= p["end"] + 1:
                return p["id"]
        return None

    execs = {x["id"]: x for x in trace["executions"]}
    out = {p["id"]: {"executions": [], "jobs": [], "stages": []}
           for p in passes}
    exec_pass = {}
    for x in trace["executions"]:
        pid = _pass_of(x["tags"]) or by_time(x["start"])
        exec_pass[x["id"]] = pid
        if pid in out:
            out[pid]["executions"].append(x)
    stage_job = {}
    for j in trace["jobs"]:
        pid = _pass_of(j["tags"])
        if pid is None and j["execution"] is not None:
            pid = exec_pass.get(j["execution"])
        pid = pid or by_time(j["start"])
        if pid in out:
            out[pid]["jobs"].append(j)
            for s in j["stages"]:
                stage_job.setdefault(s, (pid, j))
    for s in trace["stages"]:
        if s["id"] in stage_job and (s["tasks"] > 0 or s["submitted"] >= 0):
            pid, job = stage_job[s["id"]]
            out[pid]["stages"].append(dict(s, job=job["id"]))
    for pid, group in out.items():
        group["actions"] = _actions(group, execs)
    return out


def _actions(group, execs):
    """The root SQL executions of a pass, each with its call-site layer,
    duration and whether it wrote output. A nested execution (a
    command's inner query) belongs to its root; jobs outside any
    execution (such as a parquet schema read) are not actions."""
    def root(xid):
        r = execs[xid].get("root")
        return r if r in execs else xid

    wrote = {s["job"] for s in group["stages"]
             if s["write_rows"] or s["write_bytes"]}
    root_wrote = {root(j["execution"]) for j in group["jobs"]
                  if j["id"] in wrote and j["execution"] in execs}
    return [{"layer": call_site(x["details"], x["description"]),
             "ms": max(0, x["end"] - x["start"]),
             "wrote": x["id"] in root_wrote}
            for x in group["executions"] if root(x["id"]) == x["id"]]


def per_layer(record, cores):
    """Per-layer metrics of a traced run: each is the mean over its traced
    passes of the per-pass total, except the ratios and the overhead."""
    passes = [p for p in record["passes"] if p["timed"]]
    traced = [p for p in passes if p["traced"]]
    untraced = [p for p in passes if not p["traced"]]
    trace = record["trace"]
    spans = trace["spans"]
    groups = attribute(trace, traced)
    rows = []
    for p in traced:
        g = groups[p["id"]]
        st = g["stages"]
        acts = g["actions"]
        phases = [x["phases"] for x in g["executions"]]
        kids = [s for s in spans if s["kind"] in ("build", "plan", "result")
                and s["id"].startswith(p["id"] + "/")]

        def span_ms(kind):
            return sum(s["end"] - s["start"] for s in kids if s["kind"] == kind)

        def tot(key):
            return sum(s[key] for s in st)

        batches = [b for b in trace.get("streams", [])
                   if p["start"] - 1 <= b["end"] <= p["end"] + 1]
        ckpt = [a for a in acts if a["layer"] == "ckpt"]
        eager = [a for a in acts if a["layer"] == "eager"]
        wall_ms = p["wall_ms"]
        rows.append({
            "build_ms": span_ms("build"),
            "plan_ms": span_ms("plan"),
            "result_ms": span_ms("result"),
            "plan.analysis_ms": sum(ph.get("analysis", 0) for ph in phases),
            "plan.optimizer_ms": sum(ph.get("optimization", 0) for ph in phases),
            "plan.physical_ms": sum(ph.get("planning", 0) for ph in phases),
            "sched.jobs": len(g["jobs"]),
            "sched.stages": len(st),
            "sched.tasks": tot("tasks"),
            "sched.delay_ms": sum(s["first_launch"] - s["submitted"] for s in st
                                  if s["first_launch"] >= 0 and s["submitted"] >= 0),
            "ckpt.cuts": len(ckpt),
            "ckpt.ms": sum(a["ms"] for a in ckpt),
            "eager.actions": len(eager),
            "eager.ms": sum(a["ms"] for a in eager),
            "exec.cpu_ms": tot("cpu_ms"),
            "exec.run_ms": tot("run_ms"),
            "exec.gc_ms": tot("gc_ms"),
            "exec.core_util": core_util(tot("run_ms"), wall_ms, cores),
            "exec.task_skew": task_skew(st),
            "exec.failed_tasks": tot("failed_tasks"),
            "shuffle.write_rows": tot("shuffle_write_rows"),
            "shuffle.write_bytes": tot("shuffle_write_bytes"),
            "shuffle.read_bytes": tot("shuffle_read_bytes"),
            "shuffle.fetch_wait_ms": tot("fetch_wait_ms"),
            "spill.bytes": tot("spill_bytes"),
            "io.read_rows": tot("read_rows"),
            "io.read_bytes": tot("read_bytes"),
            "io.write_rows": tot("write_rows") + sum(b["sink_rows"] for b in batches),
            "io.write_bytes": tot("write_bytes"),
            "io.write_ms": (sum(a["ms"] for a in acts if a["wrote"])
                            + sum(b["sink_ms"] for b in batches)),
            "trace.span_coverage": (span_ms("build") + span_ms("plan")
                                    + span_ms("result")) / (p["end"] - p["start"]),
        })
    out = {k: statistics.fmean(r[k] for r in rows) for k in rows[0]}
    traced_s = statistics.median([p["wall_ms"] for p in traced]) / 1000
    untraced_s = statistics.median([p["wall_ms"] for p in untraced]) / 1000
    out["trace.wall_s"] = traced_s
    out["trace.overhead_s"] = traced_s - untraced_s
    return out


def span_tree(record):
    """The traced run as one tree: run -> pass -> query -> build / plan /
    result -> SQL execution -> job -> stage. Times are epoch ms."""
    trace = record["trace"]
    nodes = {s["id"]: dict(s, children=[]) for s in trace["spans"]}
    stages = {}
    for s in trace.get("stages", []):
        stages.setdefault(s["id"], []).append(
            {"kind": "stage", "id": s["id"], "attempt": s["attempt"],
             "name": s["name"],
             "start": s["submitted"], "end": s["completed"],
             "tasks": s["tasks"], "run_ms": s["run_ms"]})

    def job_node(j):
        return {"kind": "job", "id": j["id"], "start": j["start"],
                "end": j["end"],
                "children": [n for sid in j["stages"] for n in stages.get(sid, [])]}

    def phase_of(tags):
        for t in tags:
            if t.startswith("perfbench:") and t[len("perfbench:"):] in nodes:
                return nodes[t[len("perfbench:"):]]
        return None

    execs = {}
    for x in trace.get("executions", []):
        execs[x["id"]] = {"kind": "execution", "id": x["id"],
                          "start": x["start"], "end": x["end"],
                          "layer": call_site(x["details"], x["description"]),
                          "description": x["description"],
                          "phases": x["phases"], "children": []}
        parent = phase_of(x["tags"])
        if parent is not None:
            parent["children"].append(execs[x["id"]])
    for j in trace.get("jobs", []):
        parent = execs.get(j["execution"]) or phase_of(j["tags"])
        if parent is not None:
            parent["children"].append(job_node(j))
    root = None
    for n in nodes.values():
        if n["parent"] in nodes:
            nodes[n["parent"]]["children"].append(n)
        elif n["kind"] == "run":
            root = n
    return root


PER_LAYER_UNITS = {
    "build_ms": "ms", "plan_ms": "ms", "result_ms": "ms",
    "plan.analysis_ms": "ms", "plan.optimizer_ms": "ms",
    "plan.physical_ms": "ms",
    "sched.jobs": "count", "sched.stages": "count", "sched.tasks": "count",
    "sched.delay_ms": "ms",
    "ckpt.cuts": "count", "ckpt.ms": "ms",
    "eager.actions": "count", "eager.ms": "ms",
    "exec.cpu_ms": "ms", "exec.run_ms": "ms", "exec.gc_ms": "ms",
    "exec.core_util": "ratio", "exec.task_skew": "ratio",
    "exec.failed_tasks": "count",
    "shuffle.write_rows": "rows", "shuffle.write_bytes": "bytes",
    "shuffle.read_bytes": "bytes", "shuffle.fetch_wait_ms": "ms",
    "spill.bytes": "bytes",
    "io.read_rows": "rows", "io.read_bytes": "bytes",
    "io.write_rows": "rows", "io.write_bytes": "bytes", "io.write_ms": "ms",
    "trace.span_coverage": "ratio", "trace.wall_s": "s",
    "trace.overhead_s": "s",
    "box.steal_frac": "ratio", "box.load_avg": "count",
}

END_TO_END_UNITS = {
    "setup_s": "s", "wall_s": "s", "query_geomean_s": "s", "cpu_s": "s",
    "retained_heap_mb": "MB", "ok_frac": "ratio",
}
