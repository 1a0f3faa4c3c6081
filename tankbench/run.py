#!/usr/bin/env python3
"""Run one tankbench workload from the root of a checkout.

    python3 tankbench/run.py --workload tile-serve --seed 1 --seconds 25 --trace 0

Builds the program and the workload code from source (once per source
tree, under .bench_build/), generates the crawl input tables, runs the
workload in one JVM with Spark local[4] and prints its named metrics. The
last line of standard output is the result object:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
with the end-to-end metrics (--trace 0) or the per-layer metrics
(--trace 1). The full result, and the spans of a traced run, go to
.bench_build/results/.
"""
import argparse
import fcntl
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("crawl-curation", "tile-serve")
CRAWL_SF = 0.01
DATA_SEED = 42
JVM_TIMEOUT_S = 170
ADD_OPENS = ["java.base/" + p + "=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def die(msg, code=2):
    print(f"tankbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    roots = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(BENCH, "src")]
    files = [os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs if f.endswith(".scala")]
    return sorted(files)


def tree_hash(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(stamp):
    """Compiles program + workload code with sbt when the sources changed;
    returns the runtime classpath."""
    os.makedirs(BUILD, exist_ok=True)
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp.txt")
    with open(os.path.join(BUILD, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
            return open(cp_file).read().strip()
        t0 = time.time()
        out = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
             "compile", "export Runtime/fullClasspath"],
            cwd=BENCH, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
            stdin=subprocess.DEVNULL)
        lines = [l.strip() for l in out.stdout.splitlines()]
        cps = [l for l in lines if l.endswith(".jar") and os.pathsep in l]
        if out.returncode != 0 or not cps:
            sys.stderr.write(out.stdout[-4000:])
            die("build failed", 1)
        with open(cp_file, "w") as f:
            f.write(cps[-1])
        with open(stamp_file, "w") as f:
            f.write(stamp)
        print(f"[tankbench] built in {time.time() - t0:.1f} s", file=sys.stderr)
        return cps[-1]


def data_dir(sf):
    """The crawl tables at scale `sf`, generated once."""
    gen = os.path.join(BENCH, "datagen.py")
    key = hashlib.sha256(open(gen, "rb").read()).hexdigest()[:12]
    out = os.path.join(BUILD, "data", f"sf{sf}-seed{DATA_SEED}-{key}")
    if not os.path.isdir(out):
        tmp = out + f".tmp{os.getpid()}"
        subprocess.run([sys.executable, gen, tmp, str(sf), str(DATA_SEED)], check=True)
        os.replace(tmp, out)
    return out


def commit_of(stamp):
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        if r.returncode == 0:
            return r.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return "tree-" + stamp[:12]


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        die(f"{ROOT} holds no program sources (build.sbt, src/main/scala/graft): "
            "run from the root of a tankspark checkout")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        die("sbt and java must be on PATH")

    stamp = tree_hash(source_files())
    cp = build(stamp)
    data = data_dir(CRAWL_SF) if a.workload == "crawl-curation" else ""
    results = os.path.join(BUILD, "results")
    os.makedirs(results, exist_ok=True)
    work = os.path.join(BUILD, "work", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    artifact = os.path.join(results, f"{a.workload}-seed{a.seed}-trace{a.trace}.json")
    props = [f"-Djava.io.tmpdir={work}/tmp",
             f"-Dtankbench.expected={os.path.join(BENCH, 'expected_rows.json')}"]
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", p)]
           + ["-Xmx4g", "-XX:ReservedCodeCacheSize=512m", "-Dspark.ui.enabled=false"] + props
           + ["-cp", cp, "graft.tankbench.Main", "--workload", a.workload,
              "--seed", str(a.seed), "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--data", data, "--work", work, "--artifact", artifact,
              "--commit", commit_of(stamp)])
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        die(f"{a.workload} did not finish within {JVM_TIMEOUT_S} s", 1)
    shutil.rmtree(work, ignore_errors=True)
    lines = out.splitlines()
    if proc.returncode != 0 or not lines:
        sys.stdout.write(out)
        die(f"{a.workload} exited with code {proc.returncode}", 1)
    try:
        result = json.loads(lines[-1])
    except ValueError:
        sys.stdout.write(out)
        die("the run printed no result line", 1)
    for line in lines[:-1]:
        print(line)
    print(f"[tankbench] artifact {os.path.relpath(artifact, ROOT)}")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
