#!/usr/bin/env python3
"""Repository benchmark entry point.

Builds the program and the benchmark from source with sbt (once per source
state, cached under .bench_build/perfbench), then runs one workload in a
fresh JVM and relays its output. The last line of standard output is the
JSON result; the exit code is non-zero on a wrong output.

The JVM gets the classpath and the JVM options of the program's own build
(its javaOptions for forked runs: module openings, Spark settings, heap).
The heap is set through that build's own knob, SPARK_DRIVER_MEM, to 3g
instead of its 8g default: the host is shared and no workload needs more.

The build ends with the benchmark's self-test; a failing self-test fails
the build. That run also records a class-data sharing archive of the
classes it loads (the program's, Spark's and the benchmark's), which every
later JVM maps instead of loading and verifying them one by one. On a
4-vCPU host this took about 3.5 s off session start and 3.5 s off the
first set-up, about 7 s of each run's 17-35 s; without it the 92 runs of a
regression check would not fit their 3,420 s budget. The program's own
work in the timed window is unchanged by it.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selftest
"""
import argparse
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ["translate", "corpus_ingest", "table_mixed", "vector_search"]
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
HEAP = "3g"
ARCHIVE = os.path.join(BUILD, "classes.jsa")


def log(msg):
    print("perfbench: " + msg, file=sys.stderr, flush=True)


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    singles = [os.path.join(ROOT, "build.sbt"),
               os.path.join(ROOT, "project", "build.properties"),
               os.path.join(HERE, "build.sbt"),
               os.path.join(HERE, "project", "build.properties")]
    out = [p for p in singles if os.path.isfile(p)]
    for r in roots:
        for d, _, fs in os.walk(r):
            out.extend(os.path.join(d, f) for f in fs)
    return sorted(out)


def digest():
    h = hashlib.sha256()
    for p in source_files():
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def commit_id(src_digest):
    head = os.path.join(ROOT, ".git", "HEAD")
    try:
        with open(head) as f:
            ref = f.read().strip()
        if ref.startswith("ref: "):
            with open(os.path.join(ROOT, ".git", ref[5:])) as f:
                return f.read().strip()
        return ref
    except OSError:
        return "src-" + src_digest[:12]


def java_cmd(cp, opts, work, extra):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return (["java"] + opts + ["-Djava.io.tmpdir=" + tmp, "-Dderby.system.home=" + tmp] +
            extra + ["-cp", cp, "perfbench.Main", "--work-dir", work])


def pack_jars(cp):
    """Replaces class directories on the classpath by jars (class-data
    sharing accepts jars only)."""
    jars = os.path.join(BUILD, "jars")
    shutil.rmtree(jars, ignore_errors=True)
    os.makedirs(jars)
    out = []
    for i, entry in enumerate(cp.split(os.pathsep)):
        if os.path.isdir(entry):
            jar = os.path.join(jars, "classes-%d.jar" % i)
            with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as z:
                for d, _, fs in os.walk(entry):
                    for f in sorted(fs):
                        full = os.path.join(d, f)
                        z.write(full, os.path.relpath(full, entry))
            out.append(jar)
        else:
            out.append(entry)
    return os.pathsep.join(out)


def build():
    """Compiles the program and the benchmark and runs the self-test;
    returns (classpath, JVM options, digest)."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        log("no program sources next to the benchmark (build.sbt, src/main/scala)")
        sys.exit(2)
    d = digest()
    stamp = os.path.join(BUILD, "stamp")
    spec_file = os.path.join(BUILD, "run-spec.txt")
    if os.path.isfile(stamp) and os.path.isfile(spec_file):
        with open(stamp) as f:
            fresh = f.read().strip() == d
        if fresh:
            with open(spec_file) as f:
                lines = f.read().splitlines()
            return lines[0], lines[1:], d
    log("building the program and the benchmark with sbt")
    os.makedirs(BUILD, exist_ok=True)
    for p in (stamp, ARCHIVE):
        if os.path.exists(p):
            os.remove(p)
    sbt_spec = os.path.join(HERE, "target", "run-spec.txt")
    if os.path.exists(sbt_spec):
        os.remove(sbt_spec)
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
           "compile", "runSpec"]
    env = dict(os.environ, SPARK_DRIVER_MEM=HEAP)
    try:
        p = subprocess.run(cmd, cwd=HERE, env=env, stdout=subprocess.PIPE,
                           stderr=subprocess.STDOUT, text=True, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        log("build timed out")
        sys.exit(2)
    if p.returncode != 0 or not os.path.isfile(sbt_spec):
        sys.stderr.write(p.stdout[-4000:])
        log("build failed")
        sys.exit(2)
    with open(sbt_spec) as f:
        lines = [l.strip() for l in f if l.strip()]
    cp, opts = pack_jars(lines[0]), lines[1:]

    log("running the self-test, recording the class-data sharing archive")
    work = os.path.join(BUILD, "run-selftest-build-%d" % os.getpid())
    try:
        code = subprocess.run(java_cmd(cp, opts, work, ["-XX:ArchiveClassesAtExit=" + ARCHIVE])
                              + ["--selftest"], cwd=ROOT, stdout=sys.stderr,
                              stderr=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S).returncode
    except subprocess.TimeoutExpired:
        log("self-test timed out")
        code = 3
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if code != 0 or not os.path.isfile(ARCHIVE):
        log("self-test failed (exit %d); the benchmark does not run" % code)
        sys.exit(2)
    with open(spec_file, "w") as f:
        f.write("\n".join([cp] + opts) + "\n")
    with open(stamp, "w") as f:
        f.write(d)
    return cp, opts, d


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and not a.workload:
        ap.error("--workload is required")
    if a.seconds < 1:
        ap.error("--seconds must be at least 1")

    cp, opts, d = build()
    tag = "selftest" if a.selftest else "%s-%d-%d" % (a.workload, a.seed, a.trace)
    work = os.path.join(BUILD, "run-%s-%d" % (tag, os.getpid()))
    cmd = java_cmd(cp, opts, work, ["-XX:SharedArchiveFile=" + ARCHIVE,
                                    "-Dperfbench.commit=" + commit_id(d)])
    if a.selftest:
        cmd += ["--selftest"]
    else:
        cmd += ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--report-dir", os.path.join(BUILD, "reports")]
    sys.stdout.flush()
    proc = subprocess.Popen(cmd, cwd=ROOT)
    try:
        code = proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        log("run exceeded %d s and was stopped" % RUN_TIMEOUT_S)
        code = 3
    finally:
        shutil.rmtree(work, ignore_errors=True)
    sys.exit(code)


if __name__ == "__main__":
    main()
