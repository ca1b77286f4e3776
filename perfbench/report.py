"""Turns one run record (`run.json`, written by `perfbench.Harness`) into
the benchmark's metrics.

End-to-end metrics come from the untraced warm passes; per-layer metrics
from the traced ones. Listener records are attributed to an op by the
wall-clock time they carry: a job to the op its start falls in, a stage
and its tasks to the op of their job, a QueryExecution to the op its
first planning phase starts in.
"""
import re

import stats

MANIFEST = re.compile(r"(^|/)_manifests/m\d+\.json$")
PHASES = ("analysis", "optimization", "planning")


# End-to-end metrics the benchmark gates: each is defined on every
# workload, never 0, and repeats within its bound. Reported only:
# `write_op_*` (only where ops commit), `op_fail_ratio` (0 on a healthy
# run) and `rss_peak_mb` (it follows G1's heap sizing and spreads 10-20%
# between runs of the same code).
GATED = ("setup_s", "pass_s", "op_p50_s", "op_p90_s", "read_op_p50_s",
         "read_op_p90_s")


def is_write(op):
    """An op writes when its call created a new `_manifests/m<G>.json`."""
    return any(MANIFEST.search(p) for p in op["new_manifests"])


def wall(op):
    return (op["t1"] - op["t0"]) / 1000.0


def _pct(xs, p):
    return stats.hd_quantile(xs, p) if xs else None


def end_to_end(run, failed_ops):
    """End-to-end metrics (seconds, MB, ratios) of a run. `failed_ops` are
    ops whose output failed the correctness check; all their executions
    count as failed."""
    ops = run["ops"]
    warm = [o for o in ops if o["kind"] == "warm" and not o["traced"]]
    good = [o for o in warm if o["ok"] and o["name"] not in failed_ops]
    per_op = {}
    for o in good:
        per_op.setdefault(o["name"], []).append(wall(o))
    lat = [wall(o) for o in good]
    reads = [wall(o) for o in good if not is_write(o)]
    writes = [wall(o) for o in good if is_write(o)]
    attempted = len(ops)
    failed = sum(1 for o in ops if not o["ok"] or o["name"] in failed_ops)
    return {
        "setup_s": run["setup_s"],
        # a typical pass: each op's median over the measured passes,
        # summed, so one slow moment on the box moves one sample, not the
        # pass
        "pass_s": sum(stats.median(v) for v in per_op.values()) if per_op else None,
        "op_p50_s": _pct(lat, 0.5),
        "op_p90_s": _pct(lat, 0.9),
        "read_op_p50_s": _pct(reads, 0.5),
        "read_op_p90_s": _pct(reads, 0.9),
        "write_op_p50_s": _pct(writes, 0.5),
        "write_op_p90_s": _pct(writes, 0.9),
        "op_fail_ratio": failed / attempted if attempted else None,
        "rss_peak_mb": run["vmhwm_kb"] / 1024.0,
    }, {"attempted": attempted, "failed": failed, "samples": len(lat),
        "write_samples": len(writes), "read_samples": len(reads),
        "passes": len({o["pass"] for o in good})}


def _attribute(run):
    """Per traced op: its jobs, stages, QueryExecutions, AQE updates and
    streaming progress records."""
    ev = run["trace_events"]
    ops = [o for o in run["ops"] if o["traced"]]

    def owner(t):
        for i, o in enumerate(ops):
            if o["t0"] <= t <= o["t1"]:
                return i
        return None

    per = [{"jobs": [], "stages": [], "qes": [], "aqe": 0, "progress": []} for _ in ops]
    stage_job = {}
    for j in ev["jobs"]:
        i = owner(j["start"])
        if i is not None:
            per[i]["jobs"].append(j)
            for s in j["stages"]:
                stage_job[s] = i
    for s in ev["stages"]:
        i = stage_job.get(s["id"])
        if i is not None:
            per[i]["stages"].append(s)
    for q in ev["qes"]:
        starts = [v[0] for k, v in q["phases"].items() if k in PHASES]
        i = owner(min(starts)) if starts else None
        if i is not None:
            per[i]["qes"].append(q)
    for t in ev["aqe"]:
        i = owner(t)
        if i is not None:
            per[i]["aqe"] += 1
    for p in ev["progress"]:
        i = owner(p["t"])
        if i is not None:
            per[i]["progress"].append(p)
    return ops, per


def _op_layers(o, a):
    """Per-layer values of one traced op."""
    lo, hi = o["t0"], o["t1"]
    jobs = [(j["start"], j["end"]) for j in a["jobs"]]
    phases = [(v[0], v[1]) for q in a["qes"] for k, v in q["phases"].items()
              if k in PHASES]
    op_ms = hi - lo
    in_jobs = stats.covered(jobs, lo, hi)
    explained = stats.covered(jobs + phases, lo, hi)
    st = a["stages"]

    def tot(k):
        return sum(s[k] for s in st)

    skew = 0.0
    for s in st:
        r = s["read_per_task"]
        if r and stats.median(r) > 0:
            skew = max(skew, max(r) / stats.median(r))
    ph = {k: sum((q["phases"][k][1] - q["phases"][k][0]) for q in a["qes"]
                 if k in q["phases"]) / 1000.0 for k in PHASES}
    pr = a["progress"]
    return {
        "queries.construct_s": (o["tc"] - o["t0"]) / 1000.0,
        "queries.construct_jobs": sum(1 for j in a["jobs"] if j["start"] <= o["tc"]),
        "catalyst.analysis_s": ph["analysis"],
        "catalyst.optimization_s": ph["optimization"],
        "catalyst.planning_s": ph["planning"],
        "catalyst.executions": len(a["qes"]),
        "catalyst.aqe_replans": a["aqe"],
        "driver.outside_jobs_s": (op_ms - in_jobs) / 1000.0,
        "driver.unattributed_s": (op_ms - explained) / 1000.0,
        "jobs.count": len(a["jobs"]),
        "jobs.covered_s": in_jobs / 1000.0,
        "stages.count": len(st),
        "tasks.count": tot("tasks"),
        "tasks.run_s": tot("run_ms") / 1000.0,
        "tasks.cpu_s": tot("cpu_ns") / 1e9,
        "tasks.scheduler_delay_s": tot("sched_ms") / 1000.0,
        "tasks.gc_s": tot("gc_ms") / 1000.0,
        "scan.rows": tot("in_rows"),
        "scan.bytes": tot("in_bytes"),
        "shuffle.write_bytes": tot("sw_bytes"),
        "shuffle.read_bytes": tot("sr_bytes"),
        "shuffle.records": tot("sw_records"),
        "shuffle.fetch_wait_s": tot("fetch_ms") / 1000.0,
        "shuffle.skew": skew,
        "spill.disk_bytes": tot("spill_disk"),
        "spill.memory_bytes": tot("spill_mem"),
        "store.commits": sum(1 for p in o["new_manifests"] if MANIFEST.search(p)),
        "store.files_written": o["files_written"],
        "store.bytes_written": o["bytes_written"],
        "store.files_deleted": o["files_deleted"],
        "streaming.triggers": len(pr),
        "streaming.trigger_s": sum(p["trigger_ms"] for p in pr) / 1000.0,
        "streaming.add_batch_s": sum(p["add_batch_ms"] for p in pr) / 1000.0,
        "streaming.wal_commit_s": sum(p["wal_ms"] for p in pr) / 1000.0,
        "streaming.input_rows": sum(p["input_rows"] for p in pr),
        "streaming.state_rows": sum(p["state_rows"] for p in pr),
        "_wall_s": op_ms / 1000.0,
        "_catalyst_self_s": (explained - in_jobs) / 1000.0,
    }


# per-layer metric -> unit; order is the report's order
PER_LAYER = {
    "queries.construct_s": "s", "queries.construct_jobs": "count",
    "catalyst.analysis_s": "s", "catalyst.optimization_s": "s",
    "catalyst.planning_s": "s", "catalyst.executions": "count",
    "catalyst.aqe_replans": "count",
    "driver.outside_jobs_s": "s", "driver.unattributed_s": "s",
    "jobs.count": "count", "jobs.covered_s": "s", "stages.count": "count",
    "tasks.count": "count", "tasks.run_s": "s", "tasks.cpu_s": "s",
    "tasks.scheduler_delay_s": "s", "tasks.gc_s": "s",
    "scan.rows": "rows", "scan.bytes": "bytes",
    "shuffle.write_bytes": "bytes", "shuffle.read_bytes": "bytes",
    "shuffle.records": "rows", "shuffle.fetch_wait_s": "s", "shuffle.skew": "ratio",
    "spill.disk_bytes": "bytes", "spill.memory_bytes": "bytes",
    "store.commits": "count", "store.files_written": "count",
    "store.bytes_written": "bytes", "store.files_deleted": "count",
    "store.live_bytes": "bytes",
    "streaming.triggers": "count", "streaming.trigger_s": "s",
    "streaming.add_batch_s": "s", "streaming.wal_commit_s": "s",
    "streaming.input_rows": "rows", "streaming.state_rows": "rows",
    "jvm.gc_s": "s", "jvm.jit_s": "s",
    "trace.attributed_share": "ratio", "trace.overhead": "ratio",
}


def per_layer(run):
    """Per-layer metrics: each is summed over a traced pass's ops, and the
    median over traced passes is reported. Also returns the spans (one
    per op with its QueryExecution, job and stage children) and the
    per-layer self times behind `trace.attributed_share`."""
    ops, per = _attribute(run)
    by_pass = {}
    spans = []
    for n, (o, a) in enumerate(zip(ops, per)):
        v = _op_layers(o, a)
        acc = by_pass.setdefault(o["pass"], {})
        for k, x in v.items():
            acc[k] = acc.get(k, 0) + x
        acc["store.live_bytes"] = o["live_bytes"]  # the pass's last op
        spans.append({"op_id": n, "name": o["name"], "pass": o["pass"],
                      "start_ms": o["t0"], "end_ms": o["t1"],
                      "construct_end_ms": o["tc"],
                      "children": [{"op_id": n, "kind": "query_execution", "func": q["func"],
                                    "phases": q["phases"]} for q in a["qes"]] +
                                  [{"op_id": n, "kind": "job", "id": j["id"],
                                    "start_ms": j["start"], "end_ms": j["end"]}
                                   for j in a["jobs"]] +
                                  [{"op_id": n, "kind": "stage", "id": s["id"],
                                    "tasks": s["tasks"], "run_ms": s["run_ms"]}
                                   for s in a["stages"]]})
    pass_rec = {p["pass"]: p for p in run["passes"]}
    traced_s, plain_s = [], []
    for p in run["passes"]:
        (traced_s if p["traced"] else plain_s).append((p["t1"] - p["t0"]) / 1000.0)
    for p, acc in by_pass.items():
        acc["jvm.gc_s"] = pass_rec[p]["gc_ms"] / 1000.0
        acc["jvm.jit_s"] = pass_rec[p]["jit_ms"] / 1000.0
        acc["trace.attributed_share"] = (
            1.0 - acc["driver.unattributed_s"] / acc["_wall_s"] if acc["_wall_s"] else 0.0)
    out = {}
    for k in list(PER_LAYER) + ["_wall_s", "_catalyst_self_s"]:
        vals = [acc[k] for acc in by_pass.values() if k in acc]
        if vals:
            out[k] = stats.median(vals)
    out["trace.overhead"] = (stats.median(traced_s) / stats.median(plain_s) - 1.0
                             if traced_s and plain_s else 0.0)
    self_times = {
        "queries+catalyst (phases outside jobs)": out.get("_catalyst_self_s", 0.0),
        "jobs (covered)": out.get("jobs.covered_s", 0.0),
        "driver (unattributed)": out.get("driver.unattributed_s", 0.0),
    }
    return ({k: out.get(k, 0.0) for k in PER_LAYER}, spans, self_times,
            out.get("_wall_s", 0.0))
