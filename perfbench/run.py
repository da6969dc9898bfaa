#!/usr/bin/env python3
"""graft's benchmark: served test-suite traffic, served DAG runs, and the
operator suite, measured end to end and, in a traced run, per layer.

Usage (from the repository root):
  python3 perfbench/run.py --workload rpc_testsuite|rpc_dag|ops_suite \
      --seed N --seconds S --trace 0|1

The first run in a checkout builds the engine and the harness with sbt
(perfbench/harness). Every run makes its inputs from the seed, sets up
the engine several times (setup_s is the median), measures for about S
seconds, checks every output against DuckDB, and prints one JSON line
last: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones in BENCHMARK.json; with --trace 1 the
engine runs with the perfbench listeners attached and the metrics are
the per-layer ones. Each run also writes a full record (detail metrics,
provenance, spans when traced) under perfbench/.work/records/.
See perfbench/README.md.
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
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, HERE)

# Spark 4 on JDK 17 needs these outside spark-submit (same list as the
# repository's build.sbt javaOptions).
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio", "java.util",
    "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]
SERVER_HEAP = "2g"
OPS_HEAP = "3g"
BUILD_INPUTS = ["build.sbt", "project/build.properties", "src/main",
                "perfbench/harness/build.sbt", "perfbench/harness/project/build.properties",
                "perfbench/harness/src"]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def files_hash(rel_paths):
    """Content hash of files and directory trees, relative to the repository root."""
    h = hashlib.sha256()
    for rel in rel_paths:
        path = os.path.join(ROOT, rel)
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


def build(env):
    """Compile the engine and the harness once per source state; return the classpath."""
    stamp = files_hash(BUILD_INPUTS)
    out_dir = os.path.join(WORK, "build")
    cp_file = os.path.join(out_dir, f"classpath-{stamp}.txt")
    if os.path.exists(cp_file):
        return open(cp_file).read().strip(), stamp
    os.makedirs(out_dir, exist_ok=True)
    log = os.path.join(out_dir, "sbt.log")
    with open(log, "wb") as fh:
        # Own process group: sbt's launcher script starts the JVM as a child.
        sbt = subprocess.Popen(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                                "export harness/Runtime/fullClasspath"],
                               cwd=os.path.join(HERE, "harness"), env=env, stdout=fh, stderr=subprocess.STDOUT,
                               stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            rc = sbt.wait(840)
        except subprocess.TimeoutExpired:
            rc = "timeout"
        finally:
            if sbt.poll() is None:
                os.killpg(sbt.pid, signal.SIGKILL)
                sbt.wait()
    lines = open(log, errors="replace").read().splitlines()
    cp = next((l.strip() for l in reversed(lines) if "scala-2.13/classes" in l and not l.startswith("[")), None)
    if rc != 0 or not cp:
        fail(f"build failed (sbt exit {rc}); see {log}")
    with open(cp_file, "w") as f:
        f.write(cp)
    return cp, stamp


class Context:
    def __init__(self, args, cp, env):
        self.started = time.perf_counter()
        self.root, self.seed, self.seconds, self.trace = ROOT, args.seed, args.seconds, args.trace == 1
        self.inject_failure = args.inject_failure
        self.cores = len(os.sched_getaffinity(0))
        self.server_heap, self.ops_heap = SERVER_HEAP, OPS_HEAP
        self.cp = cp
        self.children = []
        base = os.path.join(WORK, "runs", f"{args.workload}-{os.getpid()}-{int(time.time() * 1000)}")
        self.dirs = {k: os.path.join(base, k) for k in ("cwd", "tmp", "local", "warehouse", "data", "out", "logs")}
        self.base = base
        for d in self.dirs.values():
            os.makedirs(d, exist_ok=True)
        self.trace_file = os.path.join(base, "trace.jsonl") if self.trace else None
        self.env = dict(env, SPARK_LOCAL_DIRS=self.dirs["local"], TMPDIR=self.dirs["tmp"])

    def log(self, msg):
        """Progress on stderr, with seconds since the run started."""
        print(f"perfbench [{time.perf_counter() - self.started:6.1f}s] {msg}", file=sys.stderr, flush=True)

    def java(self, heap, props):
        """An engine JVM command line: run-shape settings only."""
        return (["java"] + ADD_OPENS + [f"-Xms{heap}", f"-Xmx{heap}", f"-Djava.io.tmpdir={self.dirs['tmp']}",
                                        f"-Dderby.system.home={self.dirs['cwd']}"]
                + props + ["-cp", self.cp])

    def cleanup(self):
        for child in list(self.children):
            child.kill()
        self.children.clear()
        shutil.rmtree(self.base, ignore_errors=True)


def provenance(ctx, stamp, args):
    try:
        commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True,
                                timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        commit = None
    jvm = subprocess.run(["java", "-version"], capture_output=True, text=True).stderr.splitlines()
    bench = files_hash(["BENCHMARK.json"] + [f"perfbench/{f}" for f in sorted(os.listdir(HERE)) if f.endswith(".py")])
    return {"commit": commit, "source_hash": stamp, "bench_hash": bench, "workload": args.workload, "seed": args.seed,
            "seconds": args.seconds, "trace": args.trace, "nproc": ctx.cores,
            "server_heap": ctx.server_heap, "ops_heap": ctx.ops_heap, "jvm": jvm[0] if jvm else None,
            "load_avg": os.getloadavg(), "started": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime())}


def overhead_vs_untraced(prov, traced):
    """traced/untraced - 1 per end-to-end metric.

    The untraced run is the newest record of the same workload and seed,
    made from the same engine and benchmark sources; None when there is none.
    """
    rec_dir = os.path.join(WORK, "records")
    same = ("workload", "seed", "source_hash", "bench_hash")
    base = None
    for name in sorted(os.listdir(rec_dir)) if os.path.isdir(rec_dir) else []:
        if name.startswith(f"{prov['workload']}-seed{prov['seed']}-trace0-"):
            rec = json.load(open(os.path.join(rec_dir, name)))
            if all(rec["provenance"].get(k) == prov[k] for k in same):
                base = rec["e2e"]
    if base is None:
        return None
    return {k: traced[k] / base[k] - 1.0 for k in traced if base.get(k)}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--inject-failure", action="store_true",
                    help="add one operation that must fail (the self-test uses this)")
    args = ap.parse_args()

    import workloads  # noqa: E402 (needs sys.path set above)
    if args.workload not in workloads.WORKLOADS:
        fail(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}")
    if not os.path.isfile(os.path.join(ROOT, "src/main/scala/graft/api/RpcServer.scala")):
        fail(f"no graft sources under {ROOT}; run from a full checkout of the repository")

    def on_signal(signum, _frame):
        raise SystemExit(128 + signum)
    signal.signal(signal.SIGTERM, on_signal)
    signal.signal(signal.SIGINT, on_signal)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    cp, stamp = build(env)

    ctx = Context(args, cp, env)
    try:
        prov = provenance(ctx, stamp, args)
        out = workloads.WORKLOADS[args.workload](ctx)
    finally:
        ctx.cleanup()

    record = {"provenance": prov, **{k: v for k, v in out.items() if k != "spans"}}
    if ctx.trace:
        record["tracing_overhead"] = overhead_vs_untraced(prov, out["e2e"])
        record["spans"] = [s.as_dict() for s in out["spans"]]
    rec_dir = os.path.join(WORK, "records")
    os.makedirs(rec_dir, exist_ok=True)
    rec_path = os.path.join(rec_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}-{int(time.time())}.json")
    with open(rec_path, "w") as f:
        json.dump(record, f, indent=1, default=str)

    for name, (value, unit) in out["detail"].items():
        print(f"{args.workload} {name} {value:.6g} {unit}")
    print(f"samples {json.dumps(out['samples'])}; record {os.path.relpath(rec_path, ROOT)}")
    for line in out["failures"]:
        print(f"FAILED {line}")
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    if ctx.trace:
        if record["tracing_overhead"]:
            print("tracing overhead " + json.dumps({k: round(v, 4) for k, v in record["tracing_overhead"].items()}))
        metrics = {m["name"]: {"value": float(out["layers"][m["name"]]), "unit": m["unit"]} for m in spec["per_layer"]}
    else:
        metrics = {m["name"]: {"value": float(out["e2e"][m["name"]]), "unit": m["unit"]} for m in spec["end_to_end"]}
    print(json.dumps({"correct": out["failed"] == 0, "attempted": out["attempted"], "failed": out["failed"],
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
