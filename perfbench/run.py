#!/usr/bin/env python3
"""Run one workload of the benchmark, check its outputs and report it.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --workload all --seed <n> --seconds <s>

Run from the root of a checkout. The first run builds the engine and the
harness with sbt; later runs reuse the build while the sources are unchanged.
Every metric is printed by name with its unit and sample count; the last
line is one JSON object. The exit code is 0 only when every output check
passed. `--workload all` runs each workload untraced and then traced and
also prints the tracing overhead of every end-to-end metric.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import gen  # noqa: E402
import report  # noqa: E402

WORKLOADS = ("pipeline_ingest", "stateful_stream", "query_suite")
BUILD = os.path.join(ROOT, ".bench_build")
WORK = os.path.join(ROOT, ".bench_work")
JVM_TIMEOUT_S = 170
HEAP = "2g"


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    """Everything the build reads: the engine, its build, the harness."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def build():
    """Compile with sbt unless the sources match the last build. Returns
    (JVM options, classpath) of the harness."""
    for f in ("build.sbt", os.path.join("src", "main", "scala", "graft")):
        if not os.path.exists(os.path.join(ROOT, f)):
            fail(f"not the root of a checkout of the engine: {f} is missing")
    h = hashlib.sha256()
    for f in source_files():
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    launcher = os.path.join(BUILD, "launcher.txt")
    stamp_file = os.path.join(BUILD, "stamp")
    os.makedirs(BUILD, exist_ok=True)
    fresh = os.path.exists(launcher) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp
    if not fresh:
        env = dict(os.environ)
        env.setdefault("COURSIER_MODE", "offline")
        env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g")
        with open(os.path.join(BUILD, "build.log"), "w") as log:
            r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "launcher"], cwd=HERE,
                               env=env, stdout=log, stderr=subprocess.STDOUT, timeout=850)
        if r.returncode != 0:
            fail(f"build failed, see {os.path.join(BUILD, 'build.log')}")
        shutil.copy(os.path.join(HERE, "target", "launcher.txt"), launcher)
        with open(stamp_file, "w") as f:
            f.write(stamp)
    with open(launcher) as f:
        opts, cp = f.read().split("\n")[:2]
    return [o for o in opts.split("\0") if o], cp, stamp


def cores():
    return len(os.sched_getaffinity(0))


def load_config():
    with open(os.path.join(HERE, "config.json")) as f:
        return json.load(f)


def make_inputs(workload, seed, seconds, cfg, inputs):
    """Generate the run's inputs; returns the workload section of the plan."""
    if workload == "pipeline_ingest":
        c = dict(cfg["ingest"])
        # the reference rung gets reference_share of the ladder's time, the
        # other rungs split the rest
        rest = seconds * (1 - c["reference_share"]) / (len(c["rates"]) - 1)
        c["rung_s"] = [seconds * c["reference_share"] if r == c["reference_rate"] else rest for r in c["rates"]]
        c.update(gen.ingest(seed, inputs, c))
        return {"ingest": c}
    if workload == "stateful_stream":
        c = json.loads(json.dumps(cfg["stateful"]))
        c["batcher_s"] = seconds * c["batcher"]["share"]
        c.update(gen.stateful(seed, inputs, c))
        return {"stateful": c}
    c = dict(cfg["queries"])
    gen.tables(seed, inputs, c["sf"])
    rng = np.random.default_rng([seed, 4])
    n = len(c["list"])
    c["queries"] = [q["name"] for q in c["list"]]
    c["warm_orders"] = [rng.permutation(n).tolist() for _ in range(c["warm_passes"])]
    return {"queries": c}


def run_jvm(opts, cp, plan_file, work):
    """Run the harness; Spark's scratch space and temporary checkpoints stay
    inside the run's work directory."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # Only a cap on the heap: peak RSS follows what the engine touches.
    cmd = (["java"] + opts + [f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
                              f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
                              "-cp", cp, "graftbench.Main", plan_file])
    log_file = os.path.join(work, "jvm.log")
    with open(log_file, "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=ROOT)
        try:
            return p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            return None


def steal_s():
    """CPU time the hypervisor gave to other guests, summed over all CPUs
    (the steal field of /proc/stat), in seconds; None where not reported."""
    try:
        with open("/proc/stat") as f:
            fields = f.readline().split()
        return int(fields[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return None


def git_commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except OSError:
        return None


def java_version():
    r = subprocess.run(["java", "-version"], capture_output=True, text=True)
    return (r.stderr or r.stdout).splitlines()[0] if (r.stderr or r.stdout) else None


def run_one(workload, seed, seconds, trace, opts, cp, stamp, t_start):
    cfg = load_config()
    work = os.path.join(WORK, f"{workload}-{'traced' if trace else 'plain'}")
    shutil.rmtree(work, ignore_errors=True)
    inputs = os.path.join(work, "inputs")
    os.makedirs(inputs)
    plan = {"workload": workload, "seed": seed, "seconds": seconds, "trace": trace,
            "cores": cores(), "inputs": inputs, "work": work}
    plan.update(make_inputs(workload, seed, seconds, cfg, inputs))
    plan_file = os.path.join(work, "plan.json")
    with open(plan_file, "w") as f:
        json.dump(plan, f)
    steal0 = steal_s()
    code = run_jvm(opts, cp, plan_file, work)
    steal1 = steal_s()
    result_file = os.path.join(work, "result.json")
    if code != 0 or not os.path.exists(result_file):
        with open(os.path.join(work, "jvm.log")) as f:
            tail = f.readlines()[-30:]
        sys.stderr.write("".join(tail))
        fail(f"{workload}: the harness JVM exited with {code}, log in {work}/jvm.log")
    with open(result_file) as f:
        result = json.load(f)
    rep = report.analyse(workload, plan, result, inputs, work, cfg, t_start)
    rep["record"] = {"workload": workload, "seed": seed, "seconds": seconds, "trace": trace,
                     "nproc": cores(), "jvm": java_version(), "spark": result.get("spark_version"),
                     "git_commit": git_commit(), "source_sha256": stamp,
                     "cpu_steal_s": None if steal0 is None or steal1 is None else steal1 - steal0}
    with open(os.path.join(work, "record.json"), "w") as f:
        json.dump(rep, f, indent=1, default=lambda o: o.item())
    return rep


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    opts, cp, stamp = build()
    if a.workload == "all":
        ok = True
        for w in WORKLOADS:
            plain = run_one(w, a.seed, a.seconds, 0, opts, cp, stamp, time.time())
            traced = run_one(w, a.seed, a.seconds, 1, opts, cp, stamp, time.time())
            report.show(plain, untraced=None)
            report.show(traced, untraced=plain)
            ok = ok and plain["correct"] and traced["correct"]
        sys.exit(0 if ok else 1)
    rep = run_one(a.workload, a.seed, a.seconds, a.trace, opts, cp, stamp, time.time())
    last = os.path.join(WORK, f"last-{a.workload}-{a.seed}.json")
    untraced = None
    if a.trace:
        if os.path.exists(last):
            with open(last) as f:
                untraced = json.load(f)
    else:
        with open(last, "w") as f:
            json.dump(rep, f, default=lambda o: o.item())
    report.show(rep, untraced=untraced)
    print(json.dumps(report.contract_line(rep, a.trace), default=lambda o: o.item()))
    sys.exit(0 if rep["correct"] else 1)


if __name__ == "__main__":
    main()
