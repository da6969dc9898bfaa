#!/usr/bin/env python3
"""Mechanical 2x bench gate against the pinned BASELINE (r8 verdict
task 8): earlier rounds compared "against the repo's own recorded band"
by hand; BASELINE.json now carries a pinned per-query seconds table
(`queries`, provenance in its `queries_pinned_from` field)
and this script grades any later BENCH_rN.json against it.

Usage: python3 tools/bench_gate.py BENCH_r09.json [BASELINE.json]
       python3 tools/bench_gate.py --skew BENCH_SKEW_r15.json [BASELINE.json]
       python3 tools/bench_gate.py --scaling BENCH_r17.json BENCH_r17_c8.json

--skew grades a skew-sweep artifact (JSONL, one line per sweep batch;
keys unioned with min-per-key) against BASELINE.json's `skew_queries`
pin table (provenance in `skew_pinned_from`). Skew pins are COARSE —
single-run fast-mode times under concurrent sweep load — so the bar is
2x AND +30 s absolute per key, no total bar: it exists to fail the
NEXT copy-quadratic mechanically (the four found so far ran 4-50x
their post-fix times at the Z tier) rather than to police noise.

--scaling compares a 32-core run with its 8-core companion of the same
round and flags every shared key whose 32-core time is more than 1.3x
its 8-core time: on sf0.1's tiny tables more cores should never cost
wall time, so such a key is paying for wider stages (more tasks, more
shuffle partitions) rather than gaining parallelism. Both files load as
in the default mode, so a folded 32-core short line is graded on its
unfolded keys against the 8-core run's full record. Given BENCH_r17 and
BENCH_r17_c8 it flags 19 keys, led by text_oov_rate (6.2x),
text_bigram_lm (4.0x) and llm_curate_e2e_v2 (3.1x): the round-17
32-core regression cluster.

Rules:
  - per query: FAIL if t > 2x pinned AND t > pinned + 1.5 s — the
    suite-position noise documented in SURVEY §6 is multiplicative on
    sub-second entries and up to ~1 s absolute on I/O-bound ones
    (q_dag_pipeline's parquet materialization), so the gate bites only
    when BOTH the ratio and an absolute 1.5 s excess are exceeded; a
    real heavy-tier regression (the pre-fix ann_pq_topk at 5.8 s vs a
    2.75 s pin) still trips, while plan-shape regressions on cheap
    queries are the shuffle-budget/plan-lint specs' job;
  - total: FAIL if the sum over SHARED keys exceeds 1.5x the pinned
    sum over those keys (new queries are reported but ungated — they
    have no pin yet);
  - `_other_total` (the driver tail's fold-up bucket) is compared as
    its own entry when present on both sides.
Exit code 0 = pass, 1 = any failure.
"""
import hashlib
import json
import os
import sys


def run_id(queries):
    """Python replica of Bench.runId: sha256 over the sorted
    "name:%.3f" pairs joined by commas, first 6 bytes hex."""
    canon = ",".join(f"{k}:{queries[k]:.3f}" for k in sorted(queries))
    return hashlib.sha256(canon.encode("utf-8")).hexdigest()[:12]


def load_queries(path):
    # Accept BENCH_rN.json / BASELINE.json (one pretty-printed object)
    # or a raw Bench stdout capture (full JSON line first, short driver
    # line second — parse the first line alone).
    text = open(path).read().strip()
    try:
        d = json.loads(text)
    except json.JSONDecodeError:
        d = json.loads(text.splitlines()[0])
    if "parsed" in d and isinstance(d["parsed"], dict):
        d = d["parsed"]
    if "queries" in d and isinstance(d["queries"], dict):
        return expand_folded(path, d)
    raise SystemExit(f"{path}: no per-query seconds found")


def expand_folded(path, d):
    """The driver captures only Bench's SHORT line (tail-length-bounded),
    which folds cheap queries into "_other_total" — leaving most pinned
    keys ungraded. Bench also persists the COMPLETE per-query record to
    BENCH_FULL.json, stamped with the same "run" id (a hash over every
    name:seconds pair). When the artifact is folded AND a full record
    with a MATCHING run id is found, grade from the full record; a
    missing or mismatched id falls back to the folded map (never grade
    timings from a different physical run).
    """
    q = d["queries"]
    if "_other_total" not in q or not d.get("run"):
        return q
    here = os.path.dirname(os.path.abspath(path))
    for cand in (os.path.join(here, "BENCH_FULL.json"), "BENCH_FULL.json"):
        if not os.path.exists(cand):
            continue
        try:
            full = json.loads(open(cand).read().strip().splitlines()[0])
        except (json.JSONDecodeError, IndexError):
            continue
        if full.get("run") == d["run"] and isinstance(full.get("queries"), dict):
            fq = full["queries"]
            # The run id must not just be label-equal — recompute it from
            # the full record's own name:seconds pairs (same sorted %.3f
            # canonicalization as Bench.runId), so a file with edited
            # timings but a copied id is rejected.
            recomputed = run_id(fq)
            if recomputed != d["run"]:
                print(f"note: {cand} claims run {full.get('run')} but its own "
                      f"queries hash to {recomputed} — tampered or stale; ignoring")
                continue
            print(f"using {cand} (run {d['run']}): "
                  f"{len(fq)} per-query timings vs {len(q) - 1} + _other_total")
            return fq
    print(f"note: folded artifact (run {d.get('run')}) and no matching "
          f"BENCH_FULL.json — grading the unfolded keys only")
    return q


def load_skew_union(path):
    """A skew-sweep artifact is JSONL — one Bench record per sweep
    batch, each covering a key subset (batches may re-run keys after a
    fix: ev_decay_attribution appears at both 230 s pre-fix and 4.8 s
    post-fix in r15). Union with min-per-key."""
    mins = {}
    for line in open(path):
        line = line.strip()
        if not line:
            continue
        d = json.loads(line)
        if "parsed" in d and isinstance(d["parsed"], dict):
            d = d["parsed"]
        for k, v in d.get("queries", {}).items():
            if k != "_other_total":
                mins[k] = min(mins.get(k, float("inf")), v)
    if not mins:
        raise SystemExit(f"{path}: no per-query seconds found in any line")
    return mins


def skew_main(bench_path, base_path):
    bench = load_skew_union(bench_path)
    base_doc = json.load(open(base_path))
    base = base_doc.get("skew_queries")
    if not base:
        raise SystemExit(f"{base_path}: no skew_queries pin table")
    shared = sorted(set(bench) & set(base))
    new = sorted(set(bench) - set(base))
    if not shared:
        raise SystemExit(f"FAIL: no shared keys with the skew pin table")
    fails = []
    for k in shared:
        t, p = bench[k], base[k]
        if t > 2.0 * p and t > p + 30.0:
            fails.append((k, t, p))
            print(f"FAIL {k}: {t:.1f}s vs skew pin {p:.1f}s ({t / p:.1f}x)")
    tot_b = sum(bench[k] for k in shared)
    tot_p = sum(base[k] for k in shared)
    print(f"skew total over {len(shared)} shared: {tot_b:.1f}s vs pinned "
          f"{tot_p:.1f}s ({tot_b / tot_p:.2f}x) [informational — no total bar]")
    if new:
        print(f"ungated (no skew pin): {', '.join(new)}")
    if fails:
        sys.exit(1)
    print(f"PASS: {len(shared)} shared keys within the coarse skew gate")


SCALING_RATIO = 1.3


def scaling_main(wide_path, narrow_path):
    wide = load_queries(wide_path)
    narrow = load_queries(narrow_path)
    shared = sorted((set(wide) & set(narrow)) - {"_other_total"})
    if not shared:
        raise SystemExit(f"FAIL: no shared query keys between {wide_path} and {narrow_path}")
    flagged = sorted(((wide[k] / narrow[k] if narrow[k] else float("inf"), k) for k in shared
                      if wide[k] > SCALING_RATIO * narrow[k]), reverse=True)
    for ratio, k in flagged:
        print(f"FAIL {k}: {wide[k]:.3f}s vs {narrow[k]:.3f}s on 8 cores ({ratio:.2f}x)")
    if flagged:
        print(f"{len(flagged)} of {len(shared)} shared keys are over "
              f"{SCALING_RATIO}x their 8-core time")
        sys.exit(1)
    print(f"PASS: {len(shared)} shared keys within {SCALING_RATIO}x of their 8-core time")


def main():
    if sys.argv[1] == "--skew":
        skew_main(sys.argv[2], sys.argv[3] if len(sys.argv) > 3 else "BASELINE.json")
        return
    if sys.argv[1] == "--scaling":
        scaling_main(sys.argv[2], sys.argv[3])
        return
    bench_path = sys.argv[1]
    base_path = sys.argv[2] if len(sys.argv) > 2 else "BASELINE.json"
    bench = load_queries(bench_path)
    base = load_queries(base_path)

    shared = sorted(set(bench) & set(base))
    new = sorted(set(bench) - set(base))
    if not shared:
        raise SystemExit(
            f"FAIL: no shared query keys between {bench_path} and {base_path} "
            f"({len(bench)} bench keys, {len(base)} pinned) — wrong baseline file?")
    fails = []
    for k in shared:
        t, p = bench[k], base[k]
        if t > 2.0 * p and t > p + 1.5:
            fails.append((k, t, p))
            print(f"FAIL {k}: {t:.3f}s vs pinned {p:.3f}s ({t / p:.2f}x)")
    tot_b = sum(bench[k] for k in shared)
    tot_p = sum(base[k] for k in shared)
    if tot_p <= 0:
        raise SystemExit(f"FAIL: pinned total over shared keys is {tot_p} — corrupt baseline?")
    total_ok = tot_b <= 1.5 * tot_p
    print(f"total over {len(shared)} shared: {tot_b:.1f}s vs pinned {tot_p:.1f}s "
          f"({tot_b / tot_p:.2f}x) -> {'ok' if total_ok else 'FAIL'}")
    if new:
        print(f"ungated (no pin): {', '.join(new)}")
    if fails or not total_ok:
        sys.exit(1)
    print(f"PASS: {len(shared)} shared queries within gate")


if __name__ == "__main__":
    main()
