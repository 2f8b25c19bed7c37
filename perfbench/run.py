#!/usr/bin/env python3
"""Pipeline benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first call builds the engine and the
harness from source with sbt (offline) and caches the jar classpath under
perfbench/target; later calls start the harness JVM directly. Every file a
run writes lives under .bench_run/<run id>/ and is deleted when the run
ends; the run record (and the trace, with --trace 1) is kept in
.bench_out/. The last line of stdout is the result JSON.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CLASSPATH = os.path.join(HERE, "target", "bench-classpath.txt")
WORKLOADS = ("migrate_ops", "sync")
RUN_TIMEOUT_S = 170
HEAP = "3g"

# Spark on JDK 17 outside spark-submit needs these (the engine's build.sbt
# passes the same list to its forked mains).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_digest():
    """Digest of everything the build reads, to know when to rebuild."""
    h = hashlib.sha256()
    inputs = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
              os.path.abspath(__file__)]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main"),
                os.path.join(ROOT, "project"), os.path.join(HERE, "project")):
        for d, dirs, files in os.walk(top):
            dirs[:] = sorted(x for x in dirs if x != "target")
            inputs += [os.path.join(d, f) for f in sorted(files)]
    for p in inputs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build():
    digest = source_digest()
    if os.path.exists(CLASSPATH):
        with open(CLASSPATH) as f:
            stamp, cp = f.read().split("\n", 1)
        if stamp == digest:
            return cp.strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true -Xmx2g").strip()
    r = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true",
         "export Runtime/fullClasspathAsJars"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=800)
    lines = [l for l in r.stdout.splitlines() if ".jar:" in l
             and not l.startswith("[")]
    if r.returncode != 0 or not lines:
        sys.stderr.write(r.stdout[-4000:])
        die("build failed", 1)
    cp = lines[-1].strip()
    with open(CLASSPATH, "w") as f:
        f.write(digest + "\n" + cp + "\n")
    return cp


def listed_metrics(workload, trace):
    """The metric names BENCHMARK.json lists for this mode, or None when the
    workload is not one of its workloads (then every metric is printed)."""
    try:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
    except (OSError, ValueError):
        return None
    if workload not in {w["name"] for w in spec["workloads"]}:
        return None
    return [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]


def git_commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                           stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                           timeout=10)
        return r.stdout.strip() or "unknown" if r.returncode == 0 else "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def harness(cp, run_id, args, timeout=RUN_TIMEOUT_S):
    """Run the harness JVM with its own scratch root; return (exit code or
    None on timeout, stdout). The scratch root is deleted either way."""
    root = os.path.join(ROOT, ".bench_run", run_id)
    out = os.path.join(ROOT, ".bench_out")
    shutil.rmtree(root, ignore_errors=True)
    for d in ("data", "tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(root, d))
    os.makedirs(out, exist_ok=True)
    cmd = (["java", f"-Xmx{HEAP}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-Dspark.ui.enabled=false",
              "-Dspark.sql.session.timeZone=UTC",
              f"-Djava.io.tmpdir={root}/tmp",
              f"-Dspark.local.dir={root}/spark-local",
              f"-Dspark.sql.warehouse.dir={root}/warehouse",
              f"-Dderby.system.home={root}/tmp",
              "-cp", cp, "perfbench.Main"]
           + args + ["--root", root, "--out", out, "--commit", git_commit()])
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(os.cpu_count() or 1))
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE,
                            text=True)
    try:
        stdout, _ = proc.communicate(timeout=timeout)
        return proc.returncode, stdout
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        return None, ""
    finally:
        shutil.rmtree(root, ignore_errors=True)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()

    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            die(f"no engine sources here ({need} is missing); "
                "run from the root of a full checkout")
    for tool in ("sbt", "java"):
        if shutil.which(tool) is None:
            die(f"{tool} is not on PATH")

    cp = build()
    run_id = f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}"
    code, stdout = harness(cp, run_id, [
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace)])
    if code is None:
        die(f"run exceeded {RUN_TIMEOUT_S} s", 1)
    lines = [l for l in stdout.splitlines() if l.startswith("{")]
    if code != 0 or not lines:
        die(f"harness exited with code {code}", 1)
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        die("harness did not end with a result line", 1)
    names = listed_metrics(a.workload, a.trace)
    if names is not None:
        missing = [n for n in names if n not in result["metrics"]]
        if missing:
            die(f"harness did not report {missing}", 1)
        result["metrics"] = {n: result["metrics"][n] for n in names}
    for l in lines[:-1]:
        if l.startswith('{"record":'):
            print(l)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
