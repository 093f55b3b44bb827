#!/usr/bin/env python3
"""Build the engine plus benchmark from source and run one workload.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload serve_mixed --seed 1 --seconds 10 --trace 0

The first call compiles `src/main/scala` together with
`perfbench/src/main/scala` (sbt, offline) into a jar under
`perfbench/target`, then runs every gated workload once at smoke scale
in one JVM that dumps the classes it loaded into a class-data-sharing
archive. Both are cached under `.bench_build/perfbench`, keyed by a hash
of every source file; later calls reuse them. Sharing the archive cuts
JVM and Spark start-up (class loading) from about 9 s to 3 s per run,
so a full set of gated runs fits its time budget. The run itself is one JVM
(`graft.perfbench.Bench`) with all state under a fresh run root in
`.bench_build/perfbench/run`, removed afterwards. Its JSON artifact is
kept in `.bench_build/perfbench/artifacts`. The last line of stdout is
the result object.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
HEAP = "3g"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 800

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    roots = [ENGINE_SRC, os.path.join(HERE, "src", "main")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def source_hash():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def java_cmd(cp, run_root, extra=()):
    java = (os.path.join(os.environ["JAVA_HOME"], "bin", "java")
            if os.environ.get("JAVA_HOME") else "java")
    cmd = [java, f"-Xmx{HEAP}", f"-Xms{HEAP}", *extra,
           f"-Djava.io.tmpdir={os.path.join(run_root, 'tmp')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in JDK17_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd + ["-cp", cp, "graft.perfbench.Bench"]


def run_env(run_root):
    env = dict(os.environ)
    env["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    env["SPARK_LOCAL_DIRS"] = os.path.join(run_root, "local")
    env.pop("SPARK_GRAFT_EXTRA_CONF", None)
    env.pop("SPARK_GRAFT_REGISTRY", None)
    return env


def fresh_root(name):
    root = os.path.join(BUILD, "run", name)
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(os.path.join(root, "tmp"))
    return root


def build(src_sha):
    """Compile and dump the class archive if the sources changed since
    the cached build. Returns (classpath, archive path or None)."""
    os.makedirs(BUILD, exist_ok=True)
    stamp = os.path.join(BUILD, "classpath.json")
    if os.path.exists(stamp):
        with open(stamp) as fh:
            cached = json.load(fh)
        if cached.get("source_sha256") == src_sha and all(
                os.path.exists(p) for p in cached["classpath"].split(os.pathsep)[:1]):
            return cached["classpath"], cached.get("cds")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    t0 = time.time()
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
         "compile", "export Runtime/fullClasspathAsJars"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=BUILD_TIMEOUT_S)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:])
        fail("build failed")
    cp = lines[-1].strip()
    if "perfbench" not in cp or os.pathsep not in cp:
        sys.stderr.write(p.stdout[-4000:])
        fail("build did not print a classpath")
    cds = os.path.join(BUILD, "classes.jsa")
    if os.path.exists(cds):
        os.remove(cds)
    root = fresh_root("cds-train")
    train = subprocess.run(
        java_cmd(cp, root, [f"-XX:ArchiveClassesAtExit={cds}"]) +
        ["--train", "1", "--root", root,
         "--artifacts", os.path.join(root, "artifacts")],
        cwd=root, env=run_env(root), stdout=subprocess.DEVNULL,
        stderr=subprocess.PIPE, text=True, timeout=BUILD_TIMEOUT_S)
    shutil.rmtree(root, ignore_errors=True)
    if train.returncode != 0 or not os.path.exists(cds):
        sys.stderr.write(train.stderr[-4000:])
        fail("class archive training run failed")
    with open(stamp, "w") as fh:
        json.dump({"source_sha256": src_sha, "classpath": cp, "cds": cds,
                   "build_s": time.time() - t0}, fh)
    return cp, cds


def git_sha():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                              capture_output=True, text=True,
                              timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        fail(f"engine sources not found under {ENGINE_SRC}")

    src_sha = source_hash()
    cp, cds = build(src_sha)

    run_root = fresh_root(f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    env = run_env(run_root)
    env["PERFBENCH_GIT_SHA"] = git_sha()
    env["PERFBENCH_SOURCE_SHA"] = src_sha
    cmd = java_cmd(cp, run_root, [f"-XX:SharedArchiveFile={cds}"]) + [
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace,
            "--root", run_root,
            "--artifacts", os.path.join(BUILD, "artifacts")]
    proc = subprocess.Popen(cmd, cwd=run_root, env=env,
                            stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        shutil.rmtree(run_root, ignore_errors=True)
        fail(f"run exceeded {RUN_TIMEOUT_S} s", 3)
    shutil.rmtree(run_root, ignore_errors=True)
    lines = [x for x in out.splitlines() if x.strip()]
    if proc.returncode != 0 or not lines:
        fail(f"benchmark JVM exited {proc.returncode}", 4)
    try:
        result = json.loads(lines[-1])
    except ValueError:
        fail(f"no result line: {lines[-1][:200]}", 4)
    for line in lines[:-1]:
        print(line)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
