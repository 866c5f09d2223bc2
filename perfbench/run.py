#!/usr/bin/env python3
"""perfbench entry point.

    python3 perfbench/run.py --workload serve|mix|scale|curate \
        --seed N --seconds S --trace 0|1

Run from the repository root. Builds graft and the harness with sbt the
first time (later runs reuse the build while no source changed),
generates the seeded inputs and expected answers (gen.py), runs one JVM
with a Spark session sized to the machine's cores, and relays its
output. The last line of stdout is the result object. Everything the
run writes lives under ``.bench_build/`` in the checkout and the run's
scratch directory is removed afterwards.
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
WORKLOADS = ("serve", "mix", "scale", "curate")
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
HEAP = "3g"

# JDK 17 module opens Spark needs outside spark-submit (the same list
# graft's build passes to forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def run_child(cmd, timeout, **kw):
    """Run `cmd` to completion; the child is killed and reaped if the
    timeout passes or this process is told to stop. Returns (exit code,
    stdout) or None on timeout."""
    proc = subprocess.Popen(cmd, stdin=subprocess.DEVNULL, text=True, **kw)
    try:
        out, _ = proc.communicate(timeout=timeout)
        return proc.returncode, out
    except subprocess.TimeoutExpired:
        return None
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()


def source_hash():
    """Hash of every input of the build: graft's sources and build
    definition, and the harness's."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for d in [os.path.join(ROOT, "project"), os.path.join(HERE, "project")]:
        if os.path.isdir(d):
            files += [os.path.join(d, f) for f in os.listdir(d)
                      if f.endswith((".sbt", ".properties", ".scala"))]
    for r in roots:
        for dirpath, _, names in os.walk(r):
            files += [os.path.join(dirpath, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def classpath():
    """The harness's runtime classpath, building it if needed."""
    for need in ("build.sbt", os.path.join("src", "main")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail("graft's sources are not in this checkout (%s missing)" % need)
    os.makedirs(BUILD, exist_ok=True)
    stamp = os.path.join(BUILD, "classpath-%s.txt" % source_hash())
    if os.path.exists(stamp):
        with open(stamp) as f:
            return f.read().strip()
    log = os.path.join(BUILD, "build.log")
    opts = os.environ.get("SBT_OPTS", "")
    repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
    if "sbt.repository.config" not in opts and os.path.exists(repos):
        # resolve only from the user's configured repositories, offline
        opts += (" -Dsbt.override.build.repos=true -Dsbt.offline=true"
                 " -Dsbt.repository.config=" + repos)
    # sbt's JVM: no perf-data file, temporary files under the checkout
    tmp = os.path.join(BUILD, "sbt-tmp")
    os.makedirs(tmp, exist_ok=True)
    opts += (" -Dsbt.server.autostart=false -XX:-UsePerfData"
             " -Djava.io.tmpdir=" + tmp)
    env = dict(os.environ, SBT_OPTS=opts.strip())
    with open(log, "w") as out:
        res = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true",
                         "export perfbench/Runtime/fullClasspath"],
                        BUILD_TIMEOUT_S, cwd=HERE, stdout=out,
                        stderr=subprocess.STDOUT, env=env)
    rc = res[0] if res else -1
    lines = [l.strip() for l in open(log) if l.strip()]
    cp = lines[-1] if lines else ""
    if rc != 0 or "perfbench" not in cp or ".jar" not in cp:
        fail("build failed, see %s" % log)
    for old in os.listdir(BUILD):
        if old.startswith("classpath-"):
            os.remove(os.path.join(BUILD, old))
    with open(stamp, "w") as f:
        f.write(cp)
    return cp


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # a stop request unwinds through the cleanup below (child killed,
    # scratch removed) instead of leaving them behind
    signal.signal(signal.SIGTERM, lambda signum, _: sys.exit(128 + signum))

    cp = classpath()
    sys.path.insert(0, HERE)
    import gen

    run_dir = os.path.join(BUILD, "run-%d" % os.getpid())
    shutil.rmtree(run_dir, ignore_errors=True)
    data = os.path.join(run_dir, "data")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(data)
    os.makedirs(tmp)
    try:
        t0 = time.time()
        spec = gen.generate(a.workload, a.seed, data, a.seconds)
        spec_path = os.path.join(run_dir, "spec.json")
        with open(spec_path, "w") as f:
            json.dump(spec, f)
        print("[perfbench] inputs generated in %.1f s" % (time.time() - t0),
              flush=True)
        cmd = ["java", "-Xmx" + HEAP, "-Xms" + HEAP, "-XX:-UsePerfData",
               "-Djava.io.tmpdir=" + tmp]
        for p in ADD_OPENS:
            cmd += ["--add-opens", p + "=ALL-UNNAMED"]
        cmd += ["-cp", cp, "perfbench.Main", spec_path, run_dir,
                str(a.seconds), str(a.trace)]
        log = os.path.join(BUILD, "last-%s.log" % a.workload)
        with open(log, "w") as err:
            res = run_child(cmd, JVM_TIMEOUT_S, cwd=run_dir,
                            stdout=subprocess.PIPE, stderr=err)
        if res is None:
            fail("run exceeded %d s, see %s" % (JVM_TIMEOUT_S, log))
        rc, out = res
        lines = [l for l in out.splitlines() if l.strip()]
        if rc != 0 or not lines or not lines[-1].startswith("{"):
            sys.stdout.write(out)
            fail("JVM exited with %d, see %s" % (rc, log))
        sys.stdout.write("\n".join(lines) + "\n")
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
