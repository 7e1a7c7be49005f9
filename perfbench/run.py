#!/usr/bin/env python3
"""Run one graft benchmark workload and print its result as one JSON line.

Usage, from the root of a graft checkout:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

The first run builds graft's sources together with the harness
(perfbench/build.sbt) and rebuilds whenever a source file changes. Each
run starts one JVM; with --trace 1 it starts two, an untraced one and a
traced one, and reports the per-layer metrics of the traced run plus
the tracing overhead (traced minus untraced) of every end-to-end metric.

The last line of stdout is
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}.
Anything that stops a run from measuring (a failed build, a crashed
JVM, a run past its time limit) exits non-zero without that line.
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
BUILD = os.path.join(ROOT, ".bench_build")
GRAFT_SRC = os.path.join(ROOT, "src", "main", "scala")
GRAFT_RES = os.path.join(ROOT, "src", "main", "resources")
WORKLOADS = ["batch", "stream-backfill", "stream-relay"]
# All JVMs of one run share this limit, so a hung JVM cannot hold the
# caller past its own limit (the build is not counted).
RUN_LIMIT_S = 170

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def run_proc(cmd, cwd, env=None, timeout=None):
    """Runs cmd in its own process group and waits for it; the group is
    killed if the time limit passes. Returns (rc, stdout, stderr)."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=subprocess.PIPE,
                         stderr=subprocess.PIPE, text=True,
                         start_new_session=True)
    try:
        out, err = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        out, err = p.communicate()
        return -1, out, err + f"\n(killed after {timeout} s)"
    return p.returncode, out, err


def source_fingerprint():
    h = hashlib.sha256()
    for base in (GRAFT_SRC, GRAFT_RES, os.path.join(HERE, "src"),
                 os.path.join(HERE, "build.sbt")):
        paths = [base] if os.path.isfile(base) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(base) for f in fs)
        for p in paths:
            h.update(p[len(ROOT):].encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compiles graft and the harness; returns the runtime classpath."""
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "classpath.stamp")
    fp = source_fingerprint()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == fp:
                with open(cp_file) as g:
                    return g.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    # Resolve only from local caches: the build must never go online.
    env["SBT_OPTS"] = env.get("SBT_OPTS") or (
        "-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g")
    rc, out, err = run_proc(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"], cwd=HERE, env=env, timeout=600)
    lines = [l for l in out.splitlines() if "scala-2.13/classes" in l
             and not l.startswith("[")]
    if rc != 0 or not lines:
        sys.stderr.write(out[-4000:] + err[-4000:])
        fail("build failed")
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(fp)
    return lines[-1].strip()


def run_jvm(classpath, workload, seed, seconds, trace, deadline):
    work = os.path.join(BUILD, "work", f"{workload}-{seed}-{trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # -XX:-UsePerfData: the JVM writes nothing outside the checkout.
    cmd = ["java", "-Xms3g", "-Xmx3g", "-XX:+AlwaysPreTouch", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={work}/tmp",
           f"-Dlog4j2.configurationFile={HERE}/log4j2.properties"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main",
            "--workload", workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", str(trace),
            "--work", work,
            "--data", os.path.join(HERE, "data", "sf0.01"),
            "--expected", os.path.join(HERE, "expected.json")]
    try:
        rc, out, err = run_proc(cmd, cwd=ROOT,
                                timeout=max(1, deadline - time.monotonic()))
        if trace:
            traces = os.path.join(BUILD, "traces")
            os.makedirs(traces, exist_ok=True)
            for f in os.listdir(work):
                if f.startswith("trace-"):
                    shutil.move(os.path.join(work, f), os.path.join(traces, f))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    result = None
    for line in reversed(out.splitlines()):
        if line.startswith("{"):
            result = json.loads(line)
            break
    sys.stderr.write(err[-20000:])
    if rc != 0 or result is None:
        fail(f"{workload} run failed (exit {rc})")
    return result


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(GRAFT_SRC, "graft")):
        fail(f"graft sources not found under {GRAFT_SRC}")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    classpath = build()
    deadline = time.monotonic() + RUN_LIMIT_S

    # The untraced result of a (workload, seed, seconds, sources) is kept,
    # so a traced run of the same seed needs to run only the traced JVM.
    key = hashlib.sha256(json.dumps(
        [a.workload, a.seed, a.seconds, source_fingerprint()]).encode()).hexdigest()
    cached = os.path.join(BUILD, "untraced", key + ".json")
    if a.trace and os.path.exists(cached):
        with open(cached) as f:
            plain = json.load(f)
    else:
        plain = run_jvm(classpath, a.workload, a.seed, a.seconds, 0, deadline)
        os.makedirs(os.path.dirname(cached), exist_ok=True)
        with open(cached, "w") as f:
            json.dump(plain, f)
    res = plain
    if a.trace:
        traced = run_jvm(classpath, a.workload, a.seed, a.seconds, 1, deadline)
        res = traced
        values = dict(traced["layer"])
        for k, v in plain["e2e"].items():
            values[f"overhead.{k}"] = traced["e2e"][k] - v
        wanted = [m["name"] for m in spec["per_layer"]]
        # Layers a workload does not exercise (the stream source on a
        # batch workload, say) read 0.
        for k in wanted:
            values.setdefault(k, 0.0)
    else:
        wanted = [m["name"] for m in spec["end_to_end"]]
        values = plain["e2e"]
        missing = [k for k in wanted if k not in values]
        if missing:
            fail(f"metrics not produced: {missing}")
    for p in res["problems"]:
        print(f"perfbench: {p}", file=sys.stderr)
    failed = max(plain["failed"], res["failed"])
    print(json.dumps({
        "correct": failed == 0,
        "attempted": res["attempted"],
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": units[k]} for k in wanted},
    }))


if __name__ == "__main__":
    main()
