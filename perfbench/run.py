#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

Usage:
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
      [--save <file>] [--keep]

From the repository root. The first run builds the library and the
harness (sbt, offline); later runs reuse the build while no source
changed. Inputs are generated from the seed under .bench_work/, one JVM
runs the workload's closed loop at local[nproc] with one client thread,
and the outputs are checked against expectations computed here from the
generated inputs. The last line of stdout is one JSON object:
{"correct", "attempted", "failed", "metrics"}; with --trace 0 the metrics
are the end-to-end ones, with --trace 1 the per-layer ones. A failed
check makes the exit code non-zero.
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
sys.path.insert(0, HERE)

import gen  # noqa: E402
import metrics  # noqa: E402

BUILD = os.path.join(ROOT, ".bench_build")
WORK = os.path.join(ROOT, ".bench_work")
HARNESS = os.path.join(HERE, "harness")
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
HEAP = "2g"

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Digest of every file the build reads, so an unchanged tree skips sbt."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
             os.path.join(HARNESS, "src"), os.path.join(HARNESS, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HARNESS, "build.sbt")]
    for r in roots:
        for d, dirs, fs in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, f) for f in sorted(fs)
                      if f.endswith((".scala", ".sbt", ".properties", ".java"))
                      or "META-INF" in d]
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # sbt's own scratch and global state stay inside the checkout too
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g",
            f"-Djava.io.tmpdir={tmp}",
            f"-Dsbt.global.base={os.path.join(BUILD, 'sbt-global')}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def wait_group(p, timeout, what):
    """Wait for `p`; past `timeout` kill its whole process group (sbt runs
    its JVM as a child) and fail. Returns its stdout, if piped."""
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise SystemExit(f"perfbench: {what} timed out after {timeout} s")
    return out or ""


def ensure_build():
    """Compile the library and the harness; returns the runtime classpath."""
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            raise SystemExit(f"perfbench: no library source ({need}) in {ROOT}")
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    log("building library and harness (sbt, offline)")
    t0 = time.time()
    with open(os.path.join(BUILD, "build.log"), "w") as logf:
        p = subprocess.Popen(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export harness/Runtime/fullClasspath"],
            cwd=HARNESS, env=sbt_env(), stdout=subprocess.PIPE,
            stderr=logf, stdin=subprocess.DEVNULL, text=True,
            start_new_session=True)
        out = wait_group(p, BUILD_TIMEOUT_S, "build")
        logf.write(out)
    cps = [l for l in out.splitlines()
           if l.startswith("/") and "harness" in l and ":" in l]
    if p.returncode != 0 or not cps:
        raise SystemExit(f"perfbench: build failed, see {BUILD}/build.log")
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t0:.0f} s")
    return cps[-1]


def cores():
    return len(os.sched_getaffinity(0))


def run_harness(cp, workload, inp, work, seconds, trace):
    out = os.path.join(work, "harness.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # every byte the JVM, Spark and the library write stays in the run's dir
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.local.dir={os.path.join(work, 'spark-local')}",
            f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Harness", workload, inp, work,
              str(seconds), str(trace), str(cores()), out])
    with open(os.path.join(work, "jvm.log"), "w") as logf:
        p = subprocess.Popen(cmd, cwd=work, stdout=logf, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        wait_group(p, JVM_TIMEOUT_S, "harness")
    if not os.path.exists(out):
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit(f"perfbench: harness exited {p.returncode} without a result")
    with open(out) as f:
        return json.load(f), p.returncode


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(gen.SHAPES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--save", help="also write the raw harness record here")
    ap.add_argument("--keep", action="store_true", help="keep the work dir")
    a = ap.parse_args(argv)

    cp = ensure_build()
    work = os.path.join(WORK, f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    inp = os.path.join(work, "input")
    try:
        t0 = time.time()
        gen.generate(a.workload, a.seed, inp)
        gen_s = time.time() - t0
        rec, rc = run_harness(cp, a.workload, inp, work, a.seconds, a.trace)
        rec["gen_s"] = gen_s
        rec["seed"] = a.seed
        checks = metrics.check(a.workload, rec, inp, work)
        if a.save:
            with open(a.save, "w") as f:
                json.dump(rec, f)
    finally:
        if not a.keep:
            shutil.rmtree(work, ignore_errors=True)
    result = metrics.summarize(a.workload, rec, checks, a.trace)
    for line in metrics.describe(a.workload, a.seed, gen.SHAPES[a.workload], rec, checks):
        print(line)
    print(json.dumps(result))
    return 0 if result["correct"] and rc == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
