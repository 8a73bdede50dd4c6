#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. Builds the library and the harness from
source (once per checkout; cached under .bench_build/), generates the
workload's inputs from the seed, runs the harness JVM for one workload,
checks the outputs, and prints one metric per line followed by the result
as one JSON line. With --trace 0 the result holds the end-to-end metrics of
BENCHMARK.json; with --trace 1 it holds the per-layer metrics.
"""
import sys

sys.dont_write_bytecode = True

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gate  # noqa: E402
import gen  # noqa: E402

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
HARNESS = os.path.join(HERE, "harness")
WORKLOADS = ("ml_pipeline", "operator_queries")

JVM_OPTS = ["-Xms3g", "-Xmx3g", "-Xmn256m", "-XX:+UseG1GC"] + [
    x for p in (
        "java.base/java.lang", "java.base/java.lang.invoke",
        "java.base/java.lang.reflect", "java.base/java.io",
        "java.base/java.net", "java.base/java.nio", "java.base/java.util",
        "java.base/java.util.concurrent",
        "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
        "java.base/sun.nio.cs", "java.base/sun.security.action",
        "java.base/sun.util.calendar")
    for x in ("--add-opens", f"{p}=ALL-UNNAMED")]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def run(cmd, cwd, log, timeout, env=None):
    """Runs `cmd` in its own process group; kills the group on timeout or
    when this process is told to stop, and waits for it to end."""
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, cwd=cwd, stdout=out, stderr=subprocess.STDOUT,
                             env=env, start_new_session=True)

        def stop(signum, _frame):
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            sys.exit(128 + signum)

        handlers = {s: signal.signal(s, stop) for s in (signal.SIGTERM, signal.SIGINT)}
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None
        finally:
            for s, h in handlers.items():
                signal.signal(s, h)


def tail(path, n=40):
    with open(path, errors="replace") as f:
        return "".join(f.readlines()[-n:])


def source_stamp():
    h = hashlib.sha256()
    roots = ["build.sbt", "project", "src/main", os.path.relpath(HARNESS, ROOT)]
    for r in roots:
        for base, dirs, files in os.walk(os.path.join(ROOT, r)):
            dirs[:] = sorted(d for d in dirs if d != "target")
            for f in sorted(files):
                if f.endswith((".scala", ".sbt", ".properties", ".java")):
                    p = os.path.join(base, f)
                    h.update(os.path.relpath(p, ROOT).encode())
                    with open(p, "rb") as fh:
                        h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles the library and the harness; returns the runtime classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("no library sources here: run from the root of a checkout")
    os.makedirs(BUILD, exist_ok=True)
    stamp, cp_file = os.path.join(BUILD, "stamp"), os.path.join(BUILD, "classpath")
    want = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp) and open(stamp).read() == want:
        cp = open(cp_file).read().strip()
        if all(os.path.exists(p) for p in cp.split(os.pathsep)):
            return cp
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(BUILD, "build.log")
    rc = run(["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
              "compile", "export Runtime/fullClasspath"], HARNESS, log, 840, env)
    cp = [ln.strip() for ln in open(log, errors="replace")
          if ln.startswith("/") and ".jar" in ln and "harness" in ln]
    if rc != 0 or not cp:
        print(tail(log), file=sys.stderr)
        fail(f"build failed (exit {rc})")
    with open(cp_file, "w") as f:
        f.write(cp[-1])
    with open(stamp, "w") as f:
        f.write(want)
    return cp[-1]


def metric_names(kind):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    classpath = build()
    work = os.path.join(BUILD, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        return measure(args, classpath, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def measure(args, classpath, work):
    inputs = os.path.join(work, "input")
    gen.generate(args.workload, args.seed, inputs)
    threads = len(os.sched_getaffinity(0))
    out = os.path.join(work, "result.json")
    os.makedirs(os.path.join(work, "tmp"))
    cmd = (["java"] + JVM_OPTS + [f"-Djava.io.tmpdir={work}/tmp", "-cp", classpath,
           "perfbench.Main", "--workload", args.workload, "--input", inputs,
           "--work", work, "--seconds", str(args.seconds), "--seed", str(args.seed),
           "--trace", str(args.trace), "--threads", str(threads), "--out", out])
    env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
    log = os.path.join(work, "harness.log")
    rc = run(cmd, ROOT, log, args.seconds + 150, env)
    if rc != 0 or not os.path.exists(out):
        print(tail(log), file=sys.stderr)
        fail(f"harness failed (exit {rc})", 1)
    with open(out) as f:
        res = json.load(f)

    checks = res["checks"]
    if args.workload == "operator_queries":
        checks += gate.operator_queries(inputs, os.path.join(work, "results"))

    failed = res["failed_tasks"] + sum(not c["ok"] for c in checks)
    attempted = res["tasks"] + len(checks)
    for c in checks:
        if not c["ok"]:
            print(f"check FAILED {c['name']}: {c['detail']}")
    kind = "per_layer" if args.trace else "end_to_end"
    units = metric_names(kind)
    values = res[kind]
    metrics = {n: {"value": float(values.get(n, 0.0)), "unit": u} for n, u in units.items()}
    for n, m in metrics.items():
        print(f"{args.workload} {n} = {m['value']:.6g} {m['unit']}")
    print(f"{args.workload} fail_ratio = {failed / attempted:.6g} 1 "
          f"({failed} failed of {attempted} tasks and checks)")
    print(f"{args.workload} iterations = {res['iterations']}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
