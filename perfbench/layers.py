"""Per-layer metrics of a traced run.

Two sources meet here, both with epoch-millisecond times:
  - spans the benchmark records around each public call it makes
    (an RPC request, a replayed case or DAG cycle, an operator key);
  - Spark events the `perfbench.TraceListener` / `TracePlanListener`
    pair recorded inside the engine JVM (jobs, stages, tasks, SQL
    executions, AQE re-plans, plan phase times, stored RDDs, GC).
A Spark event belongs to the span whose window contains it. The RPC
server handles one request at a time, in arrival order, so request
windows never overlap and the attribution is exact up to listener-bus
delay.

Counts are reported per unit of work (a replayed case, a DAG cycle, an
operator pass), so runs of different length compare.
"""
import json
import statistics

# Every per-layer metric, in the order BENCHMARK.json lists them. A traced
# run prints all of them; a layer the workload does not reach reads 0.
RPC_METHODS = ["createSession", "createTable", "insert", "query", "describeTable", "listTables",
               "destroySession", "registerDag", "runDag", "loadDagFromDirectory", "clearDag"]
# The operator keys ops_suite times (README, "Limits", names the ones
# left out and why).
OPS_KEYS = ["llm_curate_e2e_v2", "ann_pq_topk", "text_bigram_lm", "text_oov_rate", "q_tpch_q9",
            "src_partitioned_scan"]
METRICS = (
    [(f"api.service_ms.{m}", "ms", "lower") for m in RPC_METHODS]
    + [("api.queue_wait_ms", "ms", "lower"), ("api.non_spark_ms", "ms", "lower"),
       ("engine.insert_jobs", "count", "lower"), ("engine.persisted_rdds_after_destroy", "count", "lower"),
       ("dag.jobs", "count", "lower"), ("dag.tasks", "count", "lower"), ("dag.core_util", "ratio", "higher"),
       ("dag.max_concurrent_executions", "count", "higher"), ("dag.bytes_written", "bytes", "lower"),
       ("dag.idle_s", "s", "lower"),
       ("sources.jobs", "count", "lower"), ("sources.bytes_read", "bytes", "lower"),
       ("queries.build_s", "s", "lower"), ("queries.build_jobs", "count", "lower")]
    + [(f"ops.{k}.build_s", "s", "lower") for k in OPS_KEYS]
    + [("plan.analysis_ms", "ms", "lower"), ("plan.optimizer_ms", "ms", "lower"),
       ("plan.planning_ms", "ms", "lower"), ("plan.executions", "count", "lower"),
       ("plan.aqe_replans", "count", "lower"),
       ("exec.jobs", "count", "lower"), ("exec.stages", "count", "lower"), ("exec.tasks", "count", "lower"),
       ("exec.task_s", "s", "lower"), ("exec.core_util", "ratio", "higher"),
       ("exec.shuffle_write_bytes", "bytes", "lower"), ("exec.input_rows", "count", "lower"),
       ("exec.bytes_written", "bytes", "lower"), ("exec.spill_bytes", "bytes", "lower"),
       ("exec.gc_ms", "ms", "lower"), ("exec.persisted_rdds_left", "count", "lower")]
    + [(f"ops.{k}.wall_s", "s", "lower") for k in OPS_KEYS]
    + [(f"ops.{k}.jobs", "count", "lower") for k in OPS_KEYS])


class Span:
    """One timed call the benchmark made: name, window, parent span, id."""
    __slots__ = ("name", "t0", "t1", "parent", "ident", "ok")

    def __init__(self, name, t0, t1, parent=None, ident=None, ok=True):
        self.name, self.t0, self.t1, self.parent, self.ident, self.ok = name, t0, t1, parent, ident, ok

    def as_dict(self):
        return {"name": self.name, "t0": round(self.t0, 3), "t1": round(self.t1, 3),
                "parent": self.parent, "id": self.ident, "ok": self.ok}


class Events:
    """Listener records of one engine JVM, grouped by kind and sorted by time."""

    def __init__(self, path):
        by = {}
        with open(path) as f:
            for line in f:
                if line.strip():
                    r = json.loads(line)
                    by.setdefault(r["k"], []).append(r)
        self.job_start = sorted(by.get("job+", []), key=lambda r: r["t"])
        job_end = {r["id"]: r["t"] for r in by.get("job-", [])}
        self.jobs = [(r["t"], job_end.get(r["id"], r["t"])) for r in self.job_start]
        self.tasks = sorted(by.get("task", []), key=lambda r: r["t1"])
        self.stages = by.get("stage", [])
        self.exec_start = {r["id"]: r["t"] for r in by.get("exec+", [])}
        self.exec_end = {r["id"]: r["t"] for r in by.get("exec-", [])}
        self.aqe = [r["t"] for r in by.get("aqe", [])]
        self.plans = by.get("plan", [])
        self.gc = sorted((r["t"], r["ms"]) for r in by.get("gc", []))
        self.rdd_events = sorted([(r["t"], 1) for r in by.get("rdd+", [])] + [(r["t"], -1) for r in by.get("rdd-", [])])

    def jobs_in(self, t0, t1):
        return sum(1 for r in self.job_start if t0 <= r["t"] <= t1)

    def tasks_in(self, t0, t1):
        return [r for r in self.tasks if t0 <= r["t1"] <= t1]

    def stages_in(self, t0, t1):
        return sum(1 for r in self.stages if t0 <= r["t1"] <= t1)

    def plans_in(self, t0, t1):
        return [r for r in self.plans if t0 <= r["t"] <= t1]

    def executions_in(self, t0, t1):
        return [(s, self.exec_end.get(i, t1)) for i, s in self.exec_start.items() if t0 <= s <= t1]

    def gc_between(self, t0, t1):
        inside = [ms for t, ms in self.gc if t0 <= t <= t1]
        before = [ms for t, ms in self.gc if t < t0]
        if not inside:
            return 0.0
        return inside[-1] - (before[-1] if before else inside[0])

    def live_rdds_at(self, t):
        return sum(d for ts, d in self.rdd_events if ts <= t)


def _union_ms(intervals, t0, t1):
    """Length of the union of intervals clipped to [t0, t1]."""
    total, end = 0.0, t0
    for a, b in sorted((max(a, t0), min(b, t1)) for a, b in intervals if b > t0 and a < t1):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def _max_overlap(intervals):
    points = sorted([(a, 1) for a, _ in intervals] + [(b, -1) for _, b in intervals], key=lambda p: (p[0], p[1]))
    cur = best = 0
    for _, d in points:
        cur += d
        best = max(best, cur)
    return best


def exec_metrics(ev, windows, units, cores, wall_ms):
    """Spark planning and execution metrics over `windows`, per unit of work."""
    tasks = [t for a, b in windows for t in ev.tasks_in(a, b)]
    plans = [p for a, b in windows for p in ev.plans_in(a, b)]
    u = max(units, 1)
    return {
        "plan.analysis_ms": sum(p["analysis"] for p in plans) / u,
        "plan.optimizer_ms": sum(p["optimization"] for p in plans) / u,
        "plan.planning_ms": sum(p["planning"] for p in plans) / u,
        "plan.executions": sum(len(ev.executions_in(a, b)) for a, b in windows) / u,
        "plan.aqe_replans": sum(1 for t in ev.aqe for a, b in windows if a <= t <= b) / u,
        "exec.jobs": sum(ev.jobs_in(a, b) for a, b in windows) / u,
        "exec.stages": sum(ev.stages_in(a, b) for a, b in windows) / u,
        "exec.tasks": len(tasks) / u,
        "exec.task_s": sum(t.get("run", 0) for t in tasks) / 1000.0 / u,
        "exec.core_util": sum(t["t1"] - t["t0"] for t in tasks) / (wall_ms * cores) if wall_ms > 0 else 0.0,
        "exec.shuffle_write_bytes": sum(t.get("sw", 0) for t in tasks) / u,
        "exec.input_rows": sum(t.get("ir", 0) for t in tasks) / u,
        "exec.bytes_written": sum(t.get("bw", 0) for t in tasks) / u,
        "exec.spill_bytes": sum(t.get("sp", 0) for t in tasks) / u,
    }


def request_windows(calls):
    """Service window of each request on a one-at-a-time server.

    Requests are served in the order they were written; one starts when
    it has arrived and the previous response has left, and ends when its
    own response is read. Returns [(call, start_ms, end_ms, wait_ms)].
    """
    out, prev_end = [], None
    for c in sorted(calls, key=lambda c: c.id):
        if c.recv_ms is None:
            continue
        start = c.sent_ms if prev_end is None else max(c.sent_ms, prev_end)
        out.append((c, start, c.recv_ms, start - c.sent_ms))
        prev_end = c.recv_ms
    return out


def rpc_layers(ev, calls, units, cores, window):
    """Per-layer metrics of an RPC workload over its measured window."""
    t0, t1 = window
    served = [w for w in request_windows(calls) if t0 <= w[1] and w[2] <= t1 + 1]
    m = {name: 0.0 for name, _, _ in METRICS}
    for method in RPC_METHODS:
        svc = [e - s for c, s, e, _ in served if c.method == "bq." + method and c.ok]
        if svc:
            m[f"api.service_ms.{method}"] = statistics.median(svc)
    if served:
        m["api.queue_wait_ms"] = statistics.median(w for _, _, _, w in served)
        non_spark = [(e - s) - _union_ms(ev.jobs, s, e) for _, s, e, _ in served]
        m["api.non_spark_ms"] = sum(non_spark) / len(non_spark)
    inserts = [(s, e) for c, s, e, _ in served if c.method == "bq.insert"]
    if inserts:
        m["engine.insert_jobs"] = sum(ev.jobs_in(s, e) for s, e in inserts) / len(inserts)
    m["engine.persisted_rdds_after_destroy"] = ev.live_rdds_at(t1)
    m["exec.persisted_rdds_left"] = ev.live_rdds_at(t1)
    runs = [(s, e) for c, s, e, _ in served if c.method == "bq.runDag"]
    if runs:
        tasks = [t for s, e in runs for t in ev.tasks_in(s, e)]
        span = sum(e - s for s, e in runs)
        covered = sum(_union_ms([(t["t0"], t["t1"]) for t in ev.tasks_in(s, e)], s, e) for s, e in runs)
        m["dag.jobs"] = sum(ev.jobs_in(s, e) for s, e in runs) / len(runs)
        m["dag.tasks"] = len(tasks) / len(runs)
        m["dag.core_util"] = sum(t["t1"] - t["t0"] for t in tasks) / (span * cores) if span > 0 else 0.0
        m["dag.max_concurrent_executions"] = max(_max_overlap(ev.executions_in(s, e)) for s, e in runs)
        m["dag.bytes_written"] = sum(t.get("bw", 0) for t in tasks) / len(runs)
        m["dag.idle_s"] = (span - covered) / 1000.0 / len(runs)
    loads = [(s, e) for c, s, e, _ in served if c.method == "bq.loadDagFromDirectory"]
    if loads:
        m["sources.jobs"] = sum(ev.jobs_in(s, e) for s, e in loads) / len(loads)
        m["sources.bytes_read"] = sum(t.get("br", 0) for s, e in loads for t in ev.tasks_in(s, e)) / len(loads)
    m.update(exec_metrics(ev, [window], units, cores, t1 - t0))
    m["exec.gc_ms"] = ev.gc_between(t0, t1) / max(units, 1)
    return m


def ops_layers(ev, keys, passes, cores):
    """Per-layer metrics of ops_suite from its timed-pass key records."""
    m = {name: 0.0 for name, _, _ in METRICS}
    timed = [k for k in keys if k["pass"] == "timed" and k["ok"]]
    p = max(passes, 1)
    m["queries.build_s"] = sum(k["build_s"] for k in timed) / p
    m["queries.build_jobs"] = sum(ev.jobs_in(k["t0"], k["t1"]) for k in timed) / p
    for name in OPS_KEYS:
        mine = [k for k in timed if k["key"] == name]
        if mine:
            m[f"ops.{name}.build_s"] = statistics.median(k["build_s"] for k in mine)
            m[f"ops.{name}.wall_s"] = statistics.median(k["wall_s"] for k in mine)
            m[f"ops.{name}.jobs"] = statistics.median(ev.jobs_in(k["t0"], k["t2"]) for k in mine)
    windows = [(k["t0"], k["t2"]) for k in timed]
    m.update(exec_metrics(ev, windows, passes, cores, sum(b - a for a, b in windows)))
    m["exec.gc_ms"] = sum(k["gc_ms"] for k in timed) / p
    m["exec.persisted_rdds_left"] = sum(k["persisted_left"] for k in timed) / p
    return m
