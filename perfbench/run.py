#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last line.

usage: python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the engine from the
checkout's sources together with the harness (sbt, offline) into
perfbench/target, and dumps a class-data archive so later JVMs start
faster; later runs reuse both while the sources are unchanged. Each run
stages its inputs in a fresh run directory under perfbench/target/runs and
removes it at the end. Metric names and units come from BENCHMARK.json:
with --trace 0 the end-to-end metrics, with --trace 1 the per-layer ones.
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
TARGET = os.path.join(HERE, "target")
STAMP = os.path.join(TARGET, "bench-build.json")
ARCHIVE = os.path.join(TARGET, "bench.jsa")
WORKLOADS = ("spec_etl", "index_maintenance", "stream_ingest")
RUN_TIMEOUT_S = 170

sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
import check  # noqa: E402

JAVA_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
JAVA_OPTS = ["-Xmx2g", "-XX:+UseG1GC", "-Dspark.ui.enabled=false"] + JAVA_OPENS


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources_hash():
    """Content hash of everything the build reads."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main"),
             os.path.join(HERE, "project")]
    files = [os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, fs in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x != "target")
            files += [os.path.join(d, f) for f in sorted(fs)]
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build_env():
    """The build resolves offline only, from the local caches (the engine's
    own build convention), and finds Spark's jars through SPARK_HOME or the
    spark-submit on the PATH.
    """
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                           f"-Dsbt.repository.config={repos} -Xmx4g")
    if "SPARK_HOME" not in env:
        for d in env.get("PATH", "").split(os.pathsep):
            home = os.path.dirname(os.path.dirname(os.path.realpath(
                os.path.join(d, "spark-submit"))))
            if os.path.isdir(os.path.join(home, "jars")):
                env["SPARK_HOME"] = home
                break
    return env


def run_child(cmd, cwd, timeout, stdout=None, env=None):
    """Run `cmd` in its own process group; kill the group on timeout."""
    proc = subprocess.Popen(cmd, cwd=cwd, stdout=stdout or sys.stderr, stderr=sys.stderr,
                            start_new_session=True, env=env)
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise


def java_cmd(classpath, archive_opt, args):
    return ["java"] + JAVA_OPTS + archive_opt + ["-cp", classpath, "perfbench.Main"] + args


def build():
    """Compile, package and archive when the sources changed; returns the
    classpath and the JVM's class-data option.
    """
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        sys.exit("perfbench: run from the root of a checkout holding the engine's sources")
    digest = sources_hash()
    if os.path.exists(STAMP):
        with open(STAMP) as f:
            stamp = json.load(f)
        if stamp.get("sources") == digest:
            return stamp["classpath"], stamp["archive"]
    log("building the engine and the harness")
    os.makedirs(TARGET, exist_ok=True)
    out_path = os.path.join(TARGET, "build.log")
    with open(out_path, "w") as out:
        code = run_child(["sbt", "-batch", "-Dsbt.log.noformat=true", "package",
                          "export Runtime/fullClasspath"], HERE, 500, stdout=out,
                         env=build_env())
    with open(out_path) as f:
        lines = f.read().splitlines()
    if code != 0:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        sys.exit(f"perfbench: build failed ({code})")
    exported = [ln for ln in lines if ln.startswith("/")][-1].split(os.pathsep)
    jars = sorted(os.path.join(TARGET, "scala-2.13", j)
                  for j in os.listdir(os.path.join(TARGET, "scala-2.13")) if j.endswith(".jar"))
    classpath = os.pathsep.join(jars + [p for p in exported if p.endswith(".jar")])
    # one short pass of every workload records the classes they load; the
    # runs go without the archive when that fails
    archive = []
    run_dir = os.path.join(TARGET, "runs", "archive")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    if os.path.exists(ARCHIVE):
        os.remove(ARCHIVE)
    try:
        code = run_child(java_cmd(classpath, [f"-XX:ArchiveClassesAtExit={ARCHIVE}"],
                                  ["--workload", "all", "--seed", "0", "--seconds", "1",
                                   "--trace", "0", "--run-dir", run_dir,
                                   "--specs", os.path.join(HERE, "specs")]),
                         ROOT, 200, stdout=subprocess.DEVNULL)
        if code == 0 and os.path.exists(ARCHIVE):
            archive = [f"-XX:SharedArchiveFile={ARCHIVE}"]
    except subprocess.TimeoutExpired:
        log("class-data archive timed out; running without it")
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    with open(STAMP, "w") as f:
        json.dump({"sources": digest, "classpath": classpath, "archive": archive}, f)
    return classpath, archive


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    classpath, archive = build()

    run_dir = os.path.join(TARGET, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        t0 = time.time()
        code = run_child(java_cmd(classpath, archive, [
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--run-dir", run_dir,
            "--specs", os.path.join(HERE, "specs")]), ROOT, RUN_TIMEOUT_S)
        if code != 0:
            sys.exit(f"perfbench: the harness exited with {code}")
        with open(os.path.join(run_dir, "result.json")) as f:
            res = json.load(f)
        log(f"harness {time.time() - t0:.1f} s, {len(res['checks'])} output checks")
        failed_ops = check.run_checks(res["checks"])
        attempted = res["attempted"]
        failed = res["failed"] + len(failed_ops)
        # a traced run reports its end-to-end values too; the per-layer
        # list may name the ones kept without a bound (the p90s)
        values = {**res["e2e"], **res["layers"]} if a.trace else res["e2e"]
        defs = bench["per_layer"] if a.trace else bench["end_to_end"]
        missing = [m["name"] for m in defs if m["name"] not in values and not a.trace]
        if missing:
            sys.exit(f"perfbench: the harness did not report {missing}")
        metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
                   for m in defs}
        log(f"fail_ratio {failed / attempted:.4f} ({failed} of {attempted} operations), "
            f"info {res['info']}")
        print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                          "metrics": metrics}), flush=True)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
