#!/usr/bin/env python3
"""Build the engine and the benchmark from source, run one workload, and
print its result as the last line of standard output.

    python3 perfbench/run.py --workload engine_ops --seed 1 --seconds 8 --trace 0

Workloads: engine_ops, stream_xadd, analytics (see
perfbench/README.md). The build runs once per source state; each run then
starts the JVM directly on the built classpath, so standard output carries
only the run-record line and the result line. Side files (the full run
record, span dump, per-layer table, tracing overhead, analytics result
digests, JVM stderr) go to perfbench/out/.
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
TARGET = os.path.join(HERE, "target")
OUT = os.path.join(HERE, "out")
RUN = os.path.join(HERE, ".run")
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850

# Spark on JDK 17 needs these outside spark-submit (the root build sets the same)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def source_stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile the engine and the benchmark with sbt unless the classpath
    file was written for the current sources. Returns the classpath."""
    stamp = source_stamp()
    cp_file = os.path.join(TARGET, "classpath.txt")
    stamp_file = os.path.join(TARGET, "source.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == stamp:
                with open(cp_file) as cp:
                    return cp.read().strip(), stamp
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    if os.path.exists(repos):
        opts = ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"] + opts
    env.setdefault("SBT_OPTS", " ".join(opts))
    os.makedirs(TARGET, exist_ok=True)
    log = os.path.join(TARGET, "build.log")
    with open(log, "w") as fh:
        try:
            rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                                cwd=HERE, env=env, stdout=fh, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S).returncode
        except (OSError, subprocess.TimeoutExpired) as e:
            fail(f"build failed: {e}", 3)
    if rc != 0 or not os.path.exists(cp_file):
        with open(log) as fh:
            sys.stderr.write("".join(fh.readlines()[-30:]))
        fail(f"build failed (sbt exit {rc}); see {log}", 3)
    with open(stamp_file, "w") as fh:
        fh.write(stamp + "\n")
    with open(cp_file) as cp:
        return cp.read().strip(), stamp


def source_id(stamp):
    try:
        sha = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                             text=True, timeout=10)
        if sha.returncode == 0:
            dirty = subprocess.run(["git", "-C", ROOT, "status", "--porcelain", "--", "src",
                                    "build.sbt", "perfbench"], capture_output=True, text=True,
                                   timeout=10).stdout.strip()
            return "git:" + sha.stdout.strip() + ("+dirty" if dirty else "")
    except (OSError, subprocess.TimeoutExpired):
        pass
    return "sources-sha256:" + stamp[:16]


def declared_metrics(trace):
    """Metric names BENCHMARK.json declares for this mode, if it is present."""
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(path):
        return None
    with open(path) as fh:
        spec = json.load(fh)
    return [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not (os.path.exists(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(f"no engine sources under {ROOT}: run from a full checkout")
    if not shutil.which("sbt") or not shutil.which("java"):
        fail("sbt and java must be on PATH")

    classpath, stamp = build()
    shutil.rmtree(RUN, ignore_errors=True)
    os.makedirs(os.path.join(RUN, "tmp"))
    os.makedirs(OUT, exist_ok=True)
    tag = f"{a.workload}-trace{a.trace}"
    cmd = (["java", "-Xms2g", "-Xmx2g", f"-Djava.io.tmpdir={os.path.join(RUN, 'tmp')}",
            f"-Dperfbench.data={os.path.join(HERE, 'data')}", f"-Dperfbench.expected={os.path.join(HERE, 'expected')}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", str(a.trace),
              "--run-dir", RUN, "--out-dir", OUT, "--source", source_id(stamp)])
    err_path = os.path.join(OUT, f"{tag}.stderr.log")
    with open(err_path, "w") as err:
        # set-up time starts at JVM start, not at the build
        proc = subprocess.Popen(cmd + ["--t0-ms", str(int(time.time() * 1000))], cwd=RUN, stdout=subprocess.PIPE, stderr=err,
                                stdin=subprocess.DEVNULL, text=True)
        try:
            stdout, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"{a.workload} did not finish in {JVM_TIMEOUT_S} s; see {err_path}", 4)
    shutil.rmtree(RUN, ignore_errors=True)
    lines = [ln for ln in stdout.splitlines() if ln.strip()]
    if proc.returncode != 0 or not lines:
        with open(err_path) as fh:
            sys.stderr.write("".join(fh.readlines()[-30:]))
        fail(f"{a.workload} exited with {proc.returncode}; see {err_path}", 5)
    result = json.loads(lines[-1])
    if sorted(result) != ["attempted", "correct", "failed", "metrics"] or result["attempted"] < 1:
        fail(f"malformed result line: {lines[-1][:200]}", 6)
    names = declared_metrics(a.trace)
    if names is not None and sorted(names) != sorted(result["metrics"]):
        missing = sorted(set(names) ^ set(result["metrics"]))
        fail(f"result metrics differ from BENCHMARK.json: {missing[:10]}", 6)
    if a.trace:
        import report
        report.overhead(OUT, a.workload)
    for ln in lines[:-1]:
        print(ln)
    print(lines[-1])


if __name__ == "__main__":
    main()
