#!/usr/bin/env python3
"""graft benchmark: one command, three workloads, each closed loop in its
own JVM (one driver thread, one local[4] session).

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload {query_mix,migrate,ann_ingest} \
        --seed N --seconds S --trace {0,1}

It builds the program and the harness (perfbench/build.py), makes the
workload's inputs from the seed (perfbench/gen.py), runs the harness
(perfbench/src), checks every output, prints a report line per metric
and, as the last line of stdout, one JSON object with `correct`,
`attempted`, `failed` and `metrics`.  --trace 0 reports the end-to-end
metrics, --trace 1 the per-layer ones.  Any failed check makes `correct`
false and the exit code 1.  See perfbench/README.md.
"""
import argparse
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import checks  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("query_mix", "migrate", "ann_ingest")
STEAL_LIMIT = 0.05       # a run above this host steal share is flagged
# ann_ingest probe recall@10 below this fails the run: the lowest recall
# measured over the baseline seeds minus a margin of 0.03 (README.md)
RECALL_FLOOR = 0.89
DEADLINE_S = 170         # a run, build excluded, must end within 180 s


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def percentile(values, p):
    """Linear-interpolated percentile (numpy's default rule)."""
    v = sorted(values)
    if not v:
        return float("nan")
    k = (len(v) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (k - lo)


def run_jvm(workload, work, seconds, trace, budget_s):
    cmd = build.java_cmd(work) + ["perfbench.Harness", workload, work,
                                  str(seconds), str(trace)]
    with open(f"{work}/jvm.log", "w") as out:
        proc = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            rc = proc.wait(timeout=budget_s)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise SystemExit(f"harness did not finish within {budget_s:.0f} s")
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    if rc != 0:
        with open(f"{work}/jvm.log") as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit(f"harness exited with {rc}")
    with open(f"{work}/result.json") as f:
        return json.load(f)


# operation kinds whose rows count as landed or returned rows
ROW_KINDS = ("query", "migrate", "ingest")


def units(res):
    """Per measured unit (one query, or one round of calls): its key (the
    query, or "round"), latency as the sum of its calls, rows, and whether
    every call succeeded."""
    out = {}
    for o in res["ops"]:
        u = out.setdefault(o["unit"], {
            "key": o["name"] if o["kind"] == "query" else "round",
            "s": 0.0, "rows": 0, "ok": True})
        u["s"] += o["seconds"]
        u["rows"] += o["rows"] if o["kind"] in ROW_KINDS else 0
        u["ok"] = u["ok"] and o["ok"]
    return list(out.values())


def e2e_metrics(res):
    """End-to-end metrics of an untraced run (README.md defines each).
    Units are grouped by key; on query_mix each query is one group, so
    every query weighs the same however often the time box let it run."""
    done = [u for u in units(res) if u["ok"]]
    groups = {}
    for u in done:
        groups.setdefault(u["key"], []).append(u)
    if len(groups) == 1:
        lat = [u["s"] for u in done]
    else:
        lat = [percentile([u["s"] for u in g], 50) for g in groups.values()]
    rows = sum(sum(u["rows"] for u in g) / len(g) for g in groups.values())
    busy = sum(sum(u["s"] for u in g) / len(g) for g in groups.values())
    return {
        "setup_s": (res["setup_s"], "s", 1),
        "op_p50_s": (percentile(lat, 50), "s", len(done)),
        "op_p75_s": (percentile(lat, 75), "s", len(done)),
        "ops_per_s": (len(done) / res["measured_s"], "1/s", len(done)),
        "rows_per_s": (rows / busy if busy else 0.0, "rows/s", len(done)),
        "heap_live_mb": (res["heap_live_mb"], "MB", 1),
    }


# layers reported by a traced run, with the metrics kept for each; a layer
# a workload does not use reports zeros (it is the control for that layer)
LAYER_METRICS = {
    "sources.schemaOf": ["wall_s", "jobs"],
    "sources.buildScan": ["wall_s", "jobs", "tasks", "cpu_s"],
    "transform": ["wall_s", "jobs"],
    "sinks.catalog": ["wall_s"],
    "sinks.write": ["wall_s", "jobs", "tasks", "cpu_s", "gc_s", "spill_bytes",
                    "bytes_out"],
    "run.migrate": ["wall_s"],
    "ivfpq.build": ["wall_s", "jobs", "tasks", "cpu_s", "gc_s", "shuffle_bytes",
                    "bytes_out"],
    "streaming.batch": ["wall_s", "jobs", "tasks", "cpu_s", "gc_s",
                        "shuffle_bytes", "bytes_out"],
    "ivfpq.compact": ["wall_s", "jobs", "tasks", "cpu_s", "shuffle_bytes",
                      "bytes_out"],
    "ivfpq.probe": ["wall_s", "jobs", "tasks", "cpu_s", "gc_s", "shuffle_bytes"],
}
QUERY_FAMILIES = ["q", "sketch", "dedup", "sim", "text", "mm", "pipeline", "mig"]
for fam in QUERY_FAMILIES:
    LAYER_METRICS[f"queries.{fam}"] = ["wall_s", "build_s", "jobs", "tasks",
                                       "cpu_s", "gc_s", "shuffle_bytes",
                                       "spill_bytes"]
LAYER_UNITS = {"wall_s": "s", "build_s": "s", "jobs": "count", "tasks": "count",
               "cpu_s": "s", "gc_s": "s", "shuffle_bytes": "B",
               "spill_bytes": "B", "bytes_out": "B"}


def layer_metrics(res, recall):
    """Per-layer metrics of a traced run: each layer's totals over the
    traced rounds divided by its number of calls (so a faster program that
    fits more rounds into the run does not read as more work)."""
    out = {}
    layers = res["layers"]
    for name, keep in LAYER_METRICS.items():
        c = layers.get(name, {})
        calls = c.get("calls", 0) or 0
        for m in keep:
            key = "self_s" if m == "wall_s" else m
            v = c.get(key, 0.0) / calls if calls else 0.0
            out[f"{name}.{m}"] = (v, LAYER_UNITS[m], int(calls))
    out["ivfpq.probe.recall_at_10"] = (recall if recall is not None else 0.0,
                                       "ratio", 1)
    out["host.steal_share"] = (res["steal_share"], "ratio", 1)
    # overhead: latency of traced against untraced samples of the same
    # operation in the same run, as the geometric mean of the per-operation
    # ratios of medians (the harness balances the two against warm-up)
    by_name = {}
    for o in res["ops"]:
        if o["ok"]:
            key = o["name"] if o["kind"] == "query" else o["name"].split("_")[0]
            by_name.setdefault(key, ([], []))[0 if o["traced"] else 1].append(o["seconds"])
    logs = [math.log(percentile(t, 50) / percentile(u, 50))
            for t, u in by_name.values() if t and u]
    out["trace.overhead_share"] = (math.exp(sum(logs) / len(logs)) - 1.0 if logs else 0.0,
                                   "ratio", len(logs))
    return out


def _terminate(signum, _frame):
    # unwinds through run_jvm's and main's `finally`, which stop the JVM
    # and remove the work directory
    raise SystemExit(128 + signum)


def main():
    signal.signal(signal.SIGTERM, _terminate)
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    b0 = time.time()
    build.build()
    log(f"build ready in {time.time() - b0:.1f} s")
    t0 = time.time()
    work = os.path.abspath(os.path.join(
        ".bench_work", f"{a.workload}-{a.seed}-{os.getpid()}"))
    shutil.rmtree(work, ignore_errors=True)
    try:
        g0 = time.time()
        facts = gen.generate(a.workload, a.seed, f"{work}/in")
        log(f"inputs generated in {time.time() - g0:.2f} s (not part of setup_s)")
        res = run_jvm(a.workload, work, a.seconds, a.trace,
                      DEADLINE_S - (time.time() - t0))
        problems = list(res["errors"])
        extra = {}
        if a.workload == "query_mix":
            problems += checks.oracle(work, res["facts"]["queries"])
            extra["not_bit_stable"] = res["facts"]["not_bit_stable"]
        elif a.workload == "migrate":
            bpr = res["facts"]["out_bytes_per_row"]
            extra["out_bytes_per_row"] = percentile(bpr, 50)
        else:
            recall = checks.recall(work, facts, k=10)
            extra["recall_at_10"] = recall
            if recall < RECALL_FLOOR:
                problems.append(f"recall@10 {recall:.3f} below the floor {RECALL_FLOOR}")
        recall = extra.get("recall_at_10")
        attempted = len(res["ops"])
        failed = sum(1 for o in res["ops"] if not o["ok"])
        # a failed check that no single operation owns counts as one more
        # failed operation
        unowned = max(0, len(problems) - failed)
        attempted += unowned
        failed += unowned
        for p in problems:
            log(f"CHECK FAILED: {p}")
        steal = res["steal_share"]
        extra["error_rate"] = failed / attempted if attempted else 1.0
        extra["host_steal_share"] = steal
        extra["steal_flagged"] = steal > STEAL_LIMIT
        extra["units"] = res["units"]
        extra["peak_rss_mb"] = res["peak_rss_mb"]
        extra["heap_end_mb"] = res["heap_end_mb"]
        extra["setup_session_s"] = res["session_s"]
        extra["measured_s"] = res["measured_s"]
        metrics = layer_metrics(res, recall) if a.trace else e2e_metrics(res)
        # a run with no completed operation has no latency; keep the line
        # valid JSON (it is reported as failed anyway)
        metrics = {k: (v if math.isfinite(v) else 0.0, u, n)
                   for k, (v, u, n) in metrics.items()}
        for name, (v, unit, n) in metrics.items():
            print(f"{a.workload} {name} = {v:.6g} {unit} (n={n})")
        print(f"{a.workload} report {json.dumps(extra, default=str)}")
        correct = not problems and failed == 0
        print(json.dumps({
            "correct": correct, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u, _) in metrics.items()},
        }))
        sys.stdout.flush()
        return 0 if correct else 1
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
