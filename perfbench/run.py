#!/usr/bin/env python3
"""Runs one benchmark workload and prints its metrics.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the program and
the harness with sbt (`perfbench/build.sbt`); later runs reuse the build
while the sources are unchanged. Inputs are generated under `.perfbench/`
(see `gen.py`), the harness JVM runs there with `java.io.tmpdir` pointed
at a directory the benchmark owns, and every output of the run's first
pass is checked against the DuckDB oracle.

The last line of stdout is one JSON object: `correct`, `attempted`,
`failed` and `metrics` - the end-to-end metrics with `--trace 0`, the
per-layer metrics with `--trace 1`. The lines before it are a readable
report: every end-to-end metric with its unit, the failing ops, the box
load, and for a traced run each layer's self time, the share of op wall
time the layers explain, and the cost of tracing.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import oracle  # noqa: E402
import report  # noqa: E402
import stats  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
HEAP = "3g"
BUILD_TIMEOUT_S = 850
# the harness must finish within this many seconds past its measuring time
JVM_GRACE_S = 140

E2E_UNITS = {"setup_s": "s", "pass_s": "s", "op_p50_s": "s", "op_p90_s": "s",
             "read_op_p50_s": "s", "read_op_p90_s": "s",
             "write_op_p50_s": "s", "write_op_p90_s": "s",
             "op_fail_ratio": "ratio", "rss_peak_mb": "MB"}


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources():
    """Every file the build reads, in a fixed order."""
    pats = ["build.sbt", "project/*.sbt", "project/*.properties", "project/*.scala",
            "src/main/**/*", "perfbench/build.sbt", "perfbench/project/*.properties",
            "perfbench/src/**/*"]
    files = set()
    for p in pats:
        files.update(f for f in glob.glob(os.path.join(ROOT, p), recursive=True)
                     if os.path.isfile(f))
    return sorted(files)


def build():
    """Compiles program and harness unless the last build saw the same
    sources; returns the java command prefix (options and class path)."""
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode() + b"\0")
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    stamp_file = os.path.join(WORK, "build.stamp")
    launch = os.path.join(HERE, "target", "launch.txt")
    cur = open(stamp_file).read() if os.path.exists(stamp_file) else ""
    if cur != stamp or not os.path.exists(launch):
        log("building with sbt")
        # every JVM sbt starts, its version probe too: no hsperfdata in /tmp
        env = dict(os.environ, COURSIER_MODE="offline", JAVA_TOOL_OPTIONS="-XX:-UsePerfData")
        # sbt keeps its global state, locks and temp files inside the checkout
        sbt_home = os.path.join(WORK, "sbt")
        opts = ["-Dsbt.offline=true", "-Xmx2g", "-Dsbt.server.autostart=false",
                f"-Dsbt.global.base={sbt_home}", f"-Dsbt.ivy.home={sbt_home}/ivy2",
                f"-Djava.io.tmpdir={sbt_home}/tmp", f"-Djna.tmpdir={sbt_home}/tmp"]
        os.makedirs(os.path.join(sbt_home, "tmp"), exist_ok=True)
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
        try:
            r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "launchFile"],
                               cwd=HERE, env=env, stdout=subprocess.PIPE,
                               stderr=subprocess.STDOUT, timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail("build timed out")
        if r.returncode != 0:
            sys.stderr.write(r.stdout.decode(errors="replace")[-4000:])
            fail("build failed")
        with open(stamp_file, "w") as f:
            f.write(stamp)
    with open(launch) as f:
        return [line.rstrip("\n") for line in f if line.strip()]


def input_dir(kind, seed):
    """Generates (once) and returns the input directory and its id."""
    base = os.path.join(WORK, "data", "base")
    if not os.path.exists(os.path.join(base, ".id")):
        shutil.rmtree(base, ignore_errors=True)
        gen.base(base)
        with open(os.path.join(base, ".id"), "w") as f:
            f.write(f"base-{gen.BASE_SEED}-{_gen_hash()}")
    if kind == "base":
        return base, open(os.path.join(base, ".id")).read()
    d = os.path.join(WORK, "data", f"x10-{seed}")
    if not os.path.exists(os.path.join(d, ".id")):
        for old in glob.glob(os.path.join(WORK, "data", "x10-*")):
            shutil.rmtree(old, ignore_errors=True)  # one replica on disk at a time
        gen.x10(base, d, seed)
        with open(os.path.join(d, ".id"), "w") as f:
            f.write(f"x10-{seed}-{_gen_hash()}")
    return d, open(os.path.join(d, ".id")).read()


def _gen_hash():
    with open(os.path.join(HERE, "gen.py"), "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()[:16]


def box_load():
    """Load average, CPU time stolen by the hypervisor so far (seconds,
    all CPUs), and the number of other JVMs on the box (every process
    whose command line names java, except this process's own lineage)."""
    try:
        la = [float(x) for x in open("/proc/loadavg").read().split()[:3]]
    except OSError:
        la = []
    try:
        steal = int(open("/proc/stat").readline().split()[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        steal = 0.0
    own, pid = set(), os.getpid()
    while pid > 1:
        own.add(pid)
        try:
            pid = int(open(f"/proc/{pid}/stat").read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            break
    jvms = 0
    for p in glob.glob("/proc/[0-9]*"):
        try:
            if int(os.path.basename(p)) not in own and b"java" in open(f"{p}/cmdline", "rb").read():
                jvms += 1
        except OSError:
            pass
    return {"loadavg": la, "steal_s": steal, "concurrent_jvms": jvms}


def run_jvm(java, data, ops, a, run_dir):
    tmp, local, out = (os.path.join(run_dir, d) for d in ("tmp", "local", "out"))
    for d in (tmp, local, out):
        os.makedirs(d)
    # -UsePerfData: no hsperfdata file in /tmp
    cmd = (["java"] + java + [f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
                              "perfbench.Harness",
                              "--data", data, "--ops", ",".join(ops), "--seed", str(a.seed),
                              "--seconds", str(a.seconds), "--trace", str(a.trace),
                              "--out", out, "--cpus", str(os.cpu_count())])
    env = dict(os.environ, SPARK_LOCAL_DIRS=local)
    with open(os.path.join(run_dir, "jvm.log"), "wb") as lf:
        p = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=lf, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=a.seconds + JVM_GRACE_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail("harness timed out")
    if rc != 0 or not os.path.exists(os.path.join(out, "run.json")):
        with open(os.path.join(run_dir, "jvm.log"), errors="replace") as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"harness exited with {rc}")
    with open(os.path.join(out, "run.json")) as f:
        return json.load(f), out


def fmt(v):
    return "n/a" if v is None else f"{v:.4f}"


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.exists(os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")):
        fail(f"no program sources under {ROOT}/src; run from the root of a checkout")
    w = WORKLOADS[a.workload]
    os.makedirs(WORK, exist_ok=True)

    java = build()
    data, data_id = input_dir(w["input"], a.seed)
    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    load0 = box_load()
    t0 = time.time()
    run, out = run_jvm(java, data, w["ops"], a, run_dir)
    load1 = box_load()
    bad = oracle.check(out, w["ops"], run["oracle_sql"], data, data_id,
                       os.path.join(WORK, "oracle-cache"))
    e2e, counts = report.end_to_end(run, set(bad))

    context = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
               "nproc": os.cpu_count(), "loadavg_start": load0["loadavg"],
               "loadavg_end": load1["loadavg"],
               "steal_s": round(load1["steal_s"] - load0["steal_s"], 2),
               "concurrent_jvms": max(load0["concurrent_jvms"], load1["concurrent_jvms"]),
               "run_wall_s": round(time.time() - t0, 3), **counts}
    print(f"workload {a.workload} seed {a.seed} trace {a.trace}: "
          f"{counts['passes']} warm passes, {counts['samples']} op samples "
          f"(p90 supported from 100; highest supported here "
          f"p{100 * stats.highest_supported_percentile(counts['samples']):.0f})")
    print("box: " + json.dumps({k: context[k] for k in
                                ("nproc", "loadavg_start", "loadavg_end", "steal_s",
                                 "concurrent_jvms")}))
    for k, u in E2E_UNITS.items():
        print(f"  {k:<16} {fmt(e2e[k]):>12} {u}")
    for n, why in sorted(bad.items()):
        print(f"  FAILED CHECK {n}: {why}")
    failed_runs = {}
    for o in run["ops"]:
        if not o["ok"]:
            failed_runs.setdefault(o["name"], []).append(o["err"])
    for n, errs in sorted(failed_runs.items()):
        print(f"  FAILED RUN {n}: {len(errs)} executions; first error: {errs[0]}")

    record = {"context": context, "end_to_end": e2e, "failed_checks": bad}
    if a.trace:
        layers, spans, self_times, op_wall = report.per_layer(run)
        with open(os.path.join(run_dir, "spans.json"), "w") as f:
            json.dump(spans, f)
        print(f"traced pass: op wall {op_wall:.4f} s")
        for k, v in self_times.items():
            share = v / op_wall if op_wall else 0.0
            print(f"  self {k:<40} {v:10.4f} s  {100 * share:5.1f}%")
        print(f"  attributed share {100 * layers['trace.attributed_share']:.1f}%, "
              f"tracing overhead {100 * layers['trace.overhead']:+.1f}% of pass_s")
        metrics = {k: {"value": layers[k], "unit": u} for k, u in report.PER_LAYER.items()}
        record["per_layer"] = layers
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in E2E_UNITS.items()
                   if k in report.GATED}
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    with open(os.path.join(WORK, "results",
                           f"{int(t0)}-{a.workload}-{a.seed}-t{a.trace}.json"), "w") as f:
        json.dump(record, f)
    shutil.rmtree(os.path.join(run_dir, "tmp"), ignore_errors=True)
    shutil.rmtree(os.path.join(run_dir, "local"), ignore_errors=True)
    print(json.dumps({"correct": not bad and counts["failed"] == 0,
                      "attempted": counts["attempted"], "failed": counts["failed"],
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
