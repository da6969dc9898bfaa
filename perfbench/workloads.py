"""The workloads. Each returns a dict with its operation counts
(`attempted`, `failed`, `failures`), the end-to-end metrics (`e2e`, by the
names in BENCHMARK.json), the detail metrics (`detail`), its spans,
and, when traced, the per-layer metrics (`layers`).
"""
import importlib.util
import json
import math
import os
import random
import statistics
import threading
import time

import cases as case_lib
import gen
import layers
from rpcclient import Child, Server

SETUPS = 3          # launches per run; setup_s is their median
DAG_SF = 0.1        # rpc_dag source scale
OPS_SF = 0.01       # ops_suite input scale


def percentile(values, q):
    """Nearest-rank percentile (q in 0..100)."""
    s = sorted(values)
    return s[min(len(s) - 1, max(0, math.ceil(q / 100.0 * len(s)) - 1))]


def same_value(a, b):
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, bool) or isinstance(b, bool):
        return a == b
    try:
        x, y = float(a), float(b)
    except (TypeError, ValueError):
        return str(a) == str(b)
    if isinstance(a, str) != isinstance(b, str):
        return str(a) == str(b)
    return abs(x - y) <= 1e-6 * max(1.0, abs(x), abs(y))


def same_rows(got, want):
    return (want is not None and len(got) == len(want)
            and all(len(g) == len(w) and all(same_value(x, y) for x, y in zip(g, w)) for g, w in zip(got, want)))


def response_rows(result):
    return [tuple(c["v"] for c in r["f"]) for r in result.get("rows", [])]


# ----------------------------------------------------------------------
# RPC plumbing shared by rpc_testsuite and rpc_dag
# ----------------------------------------------------------------------

def launch_server(ctx, trace_out=None):
    props = [f"-Dgraft.rpc.master=local[{ctx.cores}]",
             f"-Dspark.local.dir={ctx.dirs['local']}",
             f"-Dspark.sql.warehouse.dir={ctx.dirs['warehouse']}"]
    if trace_out:
        props += ["-Dspark.extraListeners=perfbench.TraceListener",
                  "-Dspark.sql.queryExecutionListeners=perfbench.TracePlanListener",
                  f"-Dperfbench.trace.out={trace_out}"]
    cmd = ctx.java(ctx.server_heap, props) + ["graft.api.RpcServer", "--transport", "stdio"]
    return Server(cmd, ctx.dirs["cwd"], ctx.env, os.path.join(ctx.dirs["logs"], "server.log"))


def setup_servers(ctx, trace_out):
    """Launch SETUPS servers one after another; keep the last one running."""
    times = []
    for i in range(SETUPS):
        last = i == SETUPS - 1
        srv = launch_server(ctx, trace_out if last else None)
        ctx.children.append(srv)
        pong = srv.call("bq.ping", timeout=170)
        if not pong.ok or pong.result.get("message") != "pong":
            raise RuntimeError(f"server did not answer bq.ping: {pong.error}")
        times.append(pong.recv - srv.launched)
        ctx.log(f"server {i + 1}/{SETUPS} ready in {times[-1]:.2f}s")
        if not last:
            srv.stop()
            ctx.children.remove(srv)
            ctx.log("server stopped")
    return srv, times


def finish_server(ctx, srv):
    rss = srv.rss_peak_mb()
    srv.stop()
    ctx.children.remove(srv)
    return rss


# ----------------------------------------------------------------------
# rpc_testsuite
# ----------------------------------------------------------------------

class CaseRun:
    """The calls of one replayed case or DAG cycle, and what went wrong in them."""

    def __init__(self, name):
        self.name, self.calls, self.problems = name, [], []

    def call(self, srv, method, params, check=None):
        """One request; an error response or a failed `check` marks the call not ok."""
        c = srv.call(method, params)
        self.calls.append(c)
        if not c.ok:
            self.problems.append(f"{method}: {c.error}")
            return None
        if check is not None:
            if not check(c.result):
                c.ok = False
                self.problems.append(f"{method}: wrong output")
        return c.result if c.ok else None

    @property
    def ok(self):
        return not self.problems

    @property
    def seconds(self):
        return self.calls[-1].recv - self.calls[0].sent


def replay_case(srv, case, answers, tree):
    """One case, createSession to destroySession; every output is checked."""
    run = CaseRun(case["name"])
    res = run.call(srv, "bq.createSession", {})
    if res is None:
        return run
    sid = res["sessionId"]
    try:
        tables = case["tables"]
        if case["directory"]:
            run.call(srv, "bq.loadDagFromDirectory", {"sessionId": sid, "rootPath": tree},
                     lambda r: r.get("success") is True and len(r.get("sourceTables", [])) == len(tables)
                     and len(r.get("computedTables", [])) == len(case["dag"]))
            run.call(srv, "bq.runDag", {"sessionId": sid},
                     lambda r: r.get("success") is True
                     and len(r.get("succeededTables", [])) == len(tables) + len(case["dag"]))
        elif case["dag"] is None:
            for name, schema, rows in tables:
                run.call(srv, "bq.createTable", {"sessionId": sid, "tableName": name,
                                                 "schema": [{"name": c, "type": t} for c, t in schema]},
                         lambda r: r.get("success") is True)
                for i in range(0, len(rows), case_lib.INSERT_BATCH):
                    batch = rows[i:i + case_lib.INSERT_BATCH]
                    run.call(srv, "bq.insert", {"sessionId": sid, "tableName": name, "rows": batch},
                             lambda r, n=len(batch): r.get("insertedRows") == n)
        else:
            defs = [{"name": n, "schema": [{"name": c, "type": t} for c, t in s], "rows": rows}
                    for n, s, rows in tables] + [{"name": n, "sql": sql} for n, sql in case["dag"]]
            run.call(srv, "bq.registerDag", {"sessionId": sid, "tables": defs},
                     lambda r: r.get("success") is True and len(r.get("tables", [])) == len(defs))
            run.call(srv, "bq.runDag", {"sessionId": sid},
                     lambda r: r.get("success") is True and len(r.get("succeededTables", [])) == len(defs))
        if run.ok:
            for (sql, _), want in zip(case["queries"], answers):
                run.call(srv, "bq.query", {"sessionId": sid, "sql": sql},
                         lambda r, w=want: same_rows(response_rows(r), w))
            if case["describe"]:
                name, schema, rows = tables[0]
                run.call(srv, "bq.describeTable", {"sessionId": sid, "tableName": name},
                         lambda r: r.get("rowCount") == len(rows)
                         and [f["name"] for f in r.get("schema", [])] == [c for c, _ in schema])
            else:
                want = {n: len(rows) for n, _, rows in tables}
                run.call(srv, "bq.listTables", {"sessionId": sid},
                         lambda r: all({t["name"]: t["rowCount"] for t in r}.get(n) == k for n, k in want.items()))
            if case["directory"]:
                run.call(srv, "bq.clearDag", {"sessionId": sid}, lambda r: r.get("success") is True)
    finally:
        run.call(srv, "bq.destroySession", {"sessionId": sid}, lambda r: r.get("success") is True)
    return run


def drive_clients(srv, cases, answers, tree, order, n_threads):
    """Closed loop: n_threads clients take cases from `order` until it is empty."""
    lock = threading.Lock()
    queue = list(order)
    done = []

    def client():
        while True:
            with lock:
                if not queue:
                    return
                i = queue.pop(0)
            run = replay_case(srv, cases[i], answers[i], tree)
            with lock:
                done.append(run)

    threads = [threading.Thread(target=client, daemon=True) for _ in range(n_threads)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return done


def shuffled(rng, n):
    idx = list(range(n))
    rng.shuffle(idx)
    return idx


def rpc_testsuite(ctx):
    cases = case_lib.build(ctx.seed)
    if ctx.inject_failure:
        cases.append(case_lib.failing_case())
    answers = [case_lib.expected(c) for c in cases]
    tree = next(case_lib.write_directory(c, os.path.join(ctx.dirs["data"], "tree")) for c in cases if c["directory"])
    ctx.log("oracle answers ready")
    srv, setups = setup_servers(ctx, ctx.trace_file)
    rng = random.Random(ctx.seed)
    # Warm-up: one round, served but not measured. The server's JIT is
    # still settling through most of it.
    drive_clients(srv, cases, answers, tree, shuffled(rng, len(cases)), ctx.cores)
    ctx.log("warm-up done")
    # Measured: whole rounds (every case once, in a fresh seeded order)
    # until the run has lasted --seconds, so each run measures the same
    # work whatever the seed.
    t0_ms, t0 = time.time() * 1000.0, time.perf_counter()
    runs, rounds = [], 0
    while not runs or time.perf_counter() - t0 < ctx.seconds:
        runs += drive_clients(srv, cases, answers, tree, shuffled(rng, len(cases)), ctx.cores)
        rounds += 1
    elapsed, t1_ms = time.perf_counter() - t0, time.time() * 1000.0
    ctx.log(f"measured {elapsed:.1f}s")
    rss = finish_server(ctx, srv)
    ctx.log("server stopped")

    calls = [c for r in runs for c in r.calls]
    good = [r for r in runs if r.ok]
    ok_calls = [c for r in good for c in r.calls]
    failed = sum(1 for c in calls if not c.ok)
    queries = [c.seconds * 1000 for c in ok_calls if c.method == "bq.query"]
    inserts = [c.seconds * 1000 for c in ok_calls if c.method == "bq.insert"]
    case_ms = [r.seconds * 1000 for r in good]
    # Server-side time of each query, exact from client timestamps
    # because the server handles one request at a time, in order.
    measured = {c.id for c in ok_calls}
    query_svc = [e - s for c, s, e, _ in layers.request_windows(srv.calls)
                 if c.id in measured and c.method == "bq.query"]
    if not (queries and inserts and case_ms):
        raise RuntimeError("no case completed in the measured window")
    detail = {
        "setup_s": (statistics.median(setups), "s"),
        "rss_peak_mb": (rss, "MB"),
        "failed_share": (failed / max(len(calls), 1), "ratio"),
        "round_s": (elapsed / rounds, "s"),
        "case_p50_ms": (statistics.median(case_ms), "ms"),
        "query_p50_ms": (statistics.median(queries), "ms"),
        "query_p95_ms": (percentile(queries, 95), "ms"),
        "query_service_mean_ms": (statistics.mean(query_svc), "ms"),
        "insert_p50_ms": (statistics.median(inserts), "ms"),
        "requests_per_s": (len(ok_calls) / elapsed, "1/s"),
    }
    out = {
        "attempted": len(calls), "failed": failed,
        "failures": sorted({f"{r.name}: {p}" for r in runs for p in r.problems})[:20],
        "samples": {"rounds": rounds, "cases": len(case_ms), "queries": len(queries), "inserts": len(inserts),
                    "requests": len(calls)},
        "setup_samples_s": setups,
        "detail": detail,
        "e2e": {"setup_s": detail["setup_s"][0], "rss_peak_mb": rss,
                "op_ms": detail["query_service_mean_ms"][0], "unit_s": detail["round_s"][0]},
        "spans": rpc_spans(runs, "case"),
    }
    if ctx.trace:
        ev = layers.Events(ctx.trace_file)
        out["layers"] = layers.rpc_layers(ev, calls, len(runs), ctx.cores, (t0_ms, t1_ms))
    return out


def rpc_spans(runs, kind):
    spans = []
    for n, r in enumerate(runs):
        if not r.calls:
            continue
        spans.append(layers.Span(f"{kind}:{r.name}", r.calls[0].sent_ms, r.calls[-1].recv_ms, None, n, r.ok))
        spans += [layers.Span(c.method, c.sent_ms, c.recv_ms, n, c.id, c.ok) for c in r.calls if c.recv_ms]
    return spans


# ----------------------------------------------------------------------
# rpc_dag
# ----------------------------------------------------------------------

def dag_oracle(tree):
    """DuckDB's rows for every DAG leaf, over the same parquet files."""
    import duckdb
    con = duckdb.connect()
    for dataset, names in gen.DAG_SOURCES.items():
        for t in names:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tree}/bench/{dataset}/{t}.parquet')")
    for (_, name), sql in gen.DAG_SQL.items():
        con.execute(f"CREATE VIEW {name} AS {sql}")
    want = {leaf: con.execute(f"SELECT * FROM {leaf} ORDER BY {order}").fetchall()
            for leaf, order in gen.DAG_LEAVES.items()}
    con.close()
    return want


def dag_cycle(srv, tree, subset, leaves, want):
    """createSession → load → run all → run subset → query leaves → clearDag → destroySession."""
    run = CaseRun("dag_cycle")
    derived = [name for _, name in gen.DAG_SQL]
    sources = [t for names in gen.DAG_SOURCES.values() for t in names]
    sid = (run.call(srv, "bq.createSession", {}) or {}).get("sessionId")
    if sid is None:
        return run
    try:
        run.call(srv, "bq.loadDagFromDirectory", {"sessionId": sid, "rootPath": tree},
                 lambda r: r.get("success") is True and len(r.get("sourceTables", [])) == len(sources)
                 and len(r.get("computedTables", [])) == len(derived))
        run.call(srv, "bq.runDag", {"sessionId": sid},
                 lambda r: r.get("success") is True and len(r.get("succeededTables", [])) == len(derived) + len(sources))
        run.call(srv, "bq.runDag", {"sessionId": sid, "tableNames": subset},
                 lambda r: r.get("success") is True and set(subset) <= set(r.get("succeededTables", [])))
        for leaf, order in leaves:
            run.call(srv, "bq.query", {"sessionId": sid, "sql": f"SELECT * FROM {leaf} ORDER BY {order}"},
                     lambda r, w=want.get(leaf): same_rows(response_rows(r), w))
        run.call(srv, "bq.clearDag", {"sessionId": sid}, lambda r: r.get("success") is True)
    finally:
        run.call(srv, "bq.destroySession", {"sessionId": sid}, lambda r: r.get("success") is True)
    return run


def rpc_dag(ctx):
    rng = random.Random(ctx.seed)
    tree = os.path.join(ctx.dirs["data"], "tree")
    gen.write_dag_tree(gen.tables(ctx.seed, DAG_SF), tree)
    want = dag_oracle(tree)
    # One target from each branch, drawn from pairs of like cost.
    subset = [rng.choice(["customer_revenue", "segment_leaders"]), rng.choice(["daily_totals", "type_mix"])]
    leaves = list(gen.DAG_LEAVES.items())
    srv, setups = setup_servers(ctx, ctx.trace_file)
    dag_cycle(srv, tree, subset, leaves, want)  # warm-up cycle, not measured
    t0_ms, t0 = time.time() * 1000.0, time.perf_counter()
    runs = []
    while not runs or time.perf_counter() - t0 < ctx.seconds:
        runs.append(dag_cycle(srv, tree, subset, leaves, want))
    cycles = len(runs)
    if ctx.inject_failure:
        bad = case_lib.failing_case()
        runs.append(replay_case(srv, bad, case_lib.expected(bad), tree))
    elapsed, t1_ms = time.perf_counter() - t0, time.time() * 1000.0
    rss = finish_server(ctx, srv)

    calls = [c for r in runs for c in r.calls]
    failed = sum(1 for c in calls if not c.ok)

    def times(method, pick=None):
        return [c.seconds for r in runs for i, c in enumerate(x for x in r.calls if x.method == method)
                if c.ok and (pick is None or i == pick)]

    load_s, run_s, subset_s = times("bq.loadDagFromDirectory"), times("bq.runDag", 0), times("bq.runDag", 1)
    cycle_s = [r.seconds for r in runs if r.ok]
    if not (load_s and run_s and subset_s and cycle_s):
        raise RuntimeError("no DAG cycle completed: " + "; ".join(p for r in runs for p in r.problems)[:500])
    detail = {
        "setup_s": (statistics.median(setups), "s"),
        "rss_peak_mb": (rss, "MB"),
        "failed_share": (failed / max(len(calls), 1), "ratio"),
        "dag_load_s": (statistics.median(load_s), "s"),
        "dag_run_s": (statistics.median(run_s), "s"),
        "dag_subset_s": (statistics.median(subset_s), "s"),
        "dag_cycle_s": (statistics.median(cycle_s), "s"),
    }
    out = {
        "attempted": len(calls), "failed": failed,
        "failures": sorted({f"{r.name}: {p}" for r in runs for p in r.problems})[:20],
        "samples": {"cycles": cycles, "requests": len(calls)},
        "subset": subset,
        "setup_samples_s": setups,
        "detail": detail,
        "e2e": {"setup_s": detail["setup_s"][0], "rss_peak_mb": rss,
                "op_ms": detail["dag_run_s"][0] * 1000.0, "unit_s": detail["dag_cycle_s"][0]},
        "spans": rpc_spans(runs, "cycle"),
    }
    if ctx.trace:
        ev = layers.Events(ctx.trace_file)
        out["layers"] = layers.rpc_layers(ev, calls, cycles, ctx.cores, (t0_ms, t1_ms))
    return out


# ----------------------------------------------------------------------
# ops_suite
# ----------------------------------------------------------------------

class OpsChild(Child):
    """One perfbench.OpsSuite JVM; reads its PERFBENCH event lines."""

    def __init__(self, ctx, data_dirs, keys, trace_out):
        args = ["data=" + ",".join(data_dirs), f"out={ctx.dirs['out']}", "keys=" + ",".join(keys),
                f"cores={ctx.cores}", f"local={ctx.dirs['local']}", f"warehouse={ctx.dirs['warehouse']}",
                f"seconds={ctx.seconds}", f"trace={1 if trace_out else 0}"]
        if trace_out:
            args.append(f"traceOut={trace_out}")
        # The harness heap fills unevenly from run to run; touching all of
        # it at start makes rss_peak_mb the heap plus the off-heap peak.
        super().__init__(ctx.java(ctx.ops_heap, ["-XX:+AlwaysPreTouch"]) + ["perfbench.OpsSuite"] + args,
                         ctx.dirs["cwd"], ctx.env, os.path.join(ctx.dirs["logs"], "ops.log"))

    def events(self):
        for line in self.proc.stdout:
            line = line.decode(errors="replace")
            if line.startswith("PERFBENCH "):
                yield time.perf_counter(), json.loads(line[len("PERFBENCH "):])

    def send(self, cmd):
        self.proc.stdin.write((cmd + "\n").encode())
        self.proc.stdin.flush()


def ops_check(root, data_dir, out_dir, checks):
    """compare_local.py's test for each (key, oracle SQL): same columns, same canonical rows.

    Returns the keys whose output matched.
    """
    import duckdb
    import pandas as pd
    spec = importlib.util.spec_from_file_location("compare_local", os.path.join(root, "tools", "compare_local.py"))
    cl = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(cl)
    con = duckdb.connect()
    for t in cl.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    verified = set()
    for key, sql in checks:
        try:
            spark_df = pd.read_parquet(os.path.join(out_dir, key))
            duck_df = con.execute(sql).df()
            if sorted(spark_df.columns) == sorted(duck_df.columns) and cl.canon(spark_df) == cl.canon(duck_df):
                verified.add(key)
        except Exception:  # no output, or no oracle: not verified
            pass
    con.close()
    return verified


def ops_suite(ctx):
    keys = list(layers.OPS_KEYS)
    random.Random(ctx.seed).shuffle(keys)
    if ctx.inject_failure:
        keys.insert(len(keys) // 2, "perfbench_throwing_key")
    # One copy of the inputs per set-up (hard links), so every set-up
    # registers inputs it has not seen.
    dirs = [os.path.join(ctx.dirs["data"], f"ops-{i + 1}") for i in range(SETUPS)]
    gen.write_tables(gen.tables(ctx.seed, OPS_SF), dirs[0])
    for d in dirs[1:]:
        os.makedirs(d)
        for f in os.listdir(dirs[0]):
            os.link(os.path.join(dirs[0], f), os.path.join(d, f))
    child = OpsChild(ctx, dirs, keys, ctx.trace_file)
    ctx.children.append(child)
    stream = child.events()
    setups, ready = [], None
    for t, e in stream:
        if e["event"] == "ready":
            ready = e
            setups.append(t - child.launched if e["setup"] == 0 else e["setup_s"])
            ctx.log(f"ops set-up {len(setups)}/{SETUPS} in {setups[-1]:.2f}s")
            if len(setups) == SETUPS:
                break
    if len(setups) < SETUPS:
        raise RuntimeError("ops harness exited before it was ready")
    child.send("run")
    records, done = [], None
    for _, e in stream:
        if e["event"] == "key":
            records.append(e)
            ctx.log(f"{e['pass']} {e['key']} {e['wall_s']:.2f}s" + ("" if e["ok"] else f" FAILED {e['error']}"))
        elif e["event"] == "done":
            done = e
    child.stop()
    ctx.children.remove(child)
    if done is None:
        raise RuntimeError("ops harness exited before it finished")

    # A key's timings count only if its check-pass output matched the oracle.
    checks = [(r["key"], r["oracle"]) for r in records if r["pass"] == "check" and r["ok"]]
    verified = ops_check(ctx.root, dirs[-1], ctx.dirs["out"], checks)
    ctx.log(f"outputs checked; not verified: {sorted(set(keys) - verified)}")
    timed = [r for r in records if r["pass"] == "timed"]
    bad = [r for r in timed if not (r["ok"] and r["key"] in verified)]
    walls = {}
    for r in timed:
        if r["ok"] and r["key"] in verified:
            walls.setdefault(r["key"], []).append(r["wall_s"])
    per_key = {k: statistics.median(v) for k, v in walls.items()}
    if not per_key:
        raise RuntimeError("no key completed")
    total = sum(per_key.values())
    geomean = math.exp(sum(math.log(v) for v in per_key.values()) / len(per_key))
    detail = {
        "setup_s": (statistics.median(setups), "s"),
        "rss_peak_mb": (done["rss_peak_mb"], "MB"),
        "failed_share": (len(bad) / max(len(timed), 1), "ratio"),
        "ops_total_s": (total, "s"),
        "ops_geomean_s": (geomean, "s"),
    }
    spans = []
    for n, r in enumerate(records):
        spans.append(layers.Span(f"{r['pass']}:{r['key']}", r["t0"], r["t2"], None, n, r["ok"]))
        spans.append(layers.Span("build", r["t0"], r["t1"], n, n, r["ok"]))
        spans.append(layers.Span("sink", r["t1"], r["t2"], n, n, r["ok"]))
    out = {
        "attempted": len(timed), "failed": len(bad),
        "failures": sorted({f"{r['key']}: {r['error'] or 'wrong output'}" for r in bad})[:20],
        "samples": {"passes": done["passes"], "keys": len(keys)},
        "setup_samples_s": setups,
        "setup_cold_s": setups[0],
        "session_settings": ready["settings"],
        "engine_env": ready["env"],
        "per_key_wall_s": per_key,
        "detail": detail,
        "e2e": {"setup_s": detail["setup_s"][0], "rss_peak_mb": done["rss_peak_mb"],
                "op_ms": geomean * 1000.0, "unit_s": total},
        "spans": spans,
    }
    if ctx.trace:
        ev = layers.Events(ctx.trace_file)
        out["layers"] = layers.ops_layers(ev, records, done["passes"], ctx.cores)
    return out


WORKLOADS = {"rpc_testsuite": rpc_testsuite, "rpc_dag": rpc_dag, "ops_suite": ops_suite}
