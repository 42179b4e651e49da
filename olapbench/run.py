#!/usr/bin/env python3
"""Build and run one olapbench measurement.

    python3 olapbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout of the repository. The first run builds the
library and the benchmark from source with sbt (offline) and caches the
classpath under olapbench/target; later runs reuse it while no source file
has changed. Each run works in its own directory under .bench_build/, which
is deleted when the run ends. The last line of standard output is the JSON
result; build and Spark logs go to standard error.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
CLASSPATH = os.path.join(BENCH, "target", "olapbench.classpath")
WORKLOADS = ("slicer_mix", "batch_pipeline")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700

# Spark on JDK 17 needs these outside spark-submit (the list the
# repository's own build passes to forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def sources_digest():
    """Hash of every file the build reads, so a changed source rebuilds."""
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project"),
            os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "build.sbt"),
            os.path.join(BENCH, "project"), os.path.join(BENCH, "src", "main")]
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, dirs, files in os.walk(top)
            if "target" not in os.path.relpath(d, top).split(os.sep) for f in files)
        for p in paths:
            if os.path.isfile(p) and (p.endswith((".scala", ".sbt", ".properties", ".java"))
                                      or "resources" in p):
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as f:
                    h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def run_group(cmd, cwd, timeout, stdout):
    """Run `cmd` in its own process group; kill the group on timeout."""
    proc = subprocess.Popen(cmd, cwd=cwd, stdout=stdout, stderr=sys.stderr,
                            start_new_session=True, text=True)
    try:
        out, _ = proc.communicate(timeout=timeout)
        return proc.returncode, out
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise


def classpath():
    digest = sources_digest()
    if os.path.exists(CLASSPATH):
        with open(CLASSPATH) as f:
            cached_digest, cp = f.read().split("\n", 1)
        if cached_digest == digest:
            return cp.strip()
    code, out = run_group(["sbt", "-batch", "-Dsbt.log.noformat=true", "-error",
                           "export olapbench/Runtime/fullClasspath"],
                          BENCH, BUILD_TIMEOUT_S, subprocess.PIPE)
    lines = [l for l in out.splitlines() if l.strip()]
    if code != 0 or not lines:
        sys.stderr.write(out)
        raise SystemExit(f"olapbench: build failed (sbt exit {code})")
    cp = lines[-1].strip()
    os.makedirs(os.path.dirname(CLASSPATH), exist_ok=True)
    with open(CLASSPATH, "w") as f:
        f.write(digest + "\n" + cp + "\n")
    return cp


def main():
    # a terminated run still kills its process group and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()
    if a.seconds < 1:
        ap.error("--seconds must be at least 1")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit("olapbench: the library sources (src/main/scala/graft) are missing; "
                         "run from the root of a full checkout")
    cp = classpath()
    run_dir = os.path.join(ROOT, ".bench_build", f"olapbench-run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    try:
        # batch_pipeline touches the whole heap at start, so no measured
        # pass pays the first touch of fresh pages, whose cost depends on the
        # host's load (the slicer was no steadier with it)
        pretouch = ["-XX:+AlwaysPreTouch"] if a.workload == "batch_pipeline" else []
        cmd = (["java", "-Xms3g", "-Xmx3g"] + pretouch +
               ["-XX:+UseG1GC", f"-Djava.io.tmpdir={run_dir}/tmp",
                "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
               + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
               + ["-cp", cp, "olapbench.Main", "--workload", a.workload, "--seed", str(a.seed),
                  "--seconds", str(a.seconds), "--trace", a.trace, "--dir", run_dir])
        code, _ = run_group(cmd, ROOT, RUN_TIMEOUT_S, None)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(run_dir))
        except OSError:
            pass
    sys.exit(code)


if __name__ == "__main__":
    main()
