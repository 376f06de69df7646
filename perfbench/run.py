#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --self-test

Run it from the root of a checkout. The first run builds the program and
the harness from source with sbt (perfbench/build.sbt depends on the
repository's own build one directory up); later runs reuse the build while
the sources are unchanged. Each run starts one JVM for the workload, with
its inputs generated from the seed under perfbench/.work, and removes them
when it ends. Traced runs also write their spans to perfbench/.out.

--self-test truncates one h5 file of each ODIM workload's corpus and checks
that the run then reports failures and correct=false.
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
BUILD_DIR = os.path.join(HERE, ".build")
WORK_DIR = os.path.join(HERE, ".work")
OUT_DIR = os.path.join(HERE, ".out")
WORKLOADS = ["lake_backfill", "vpts_convert", "lake_incremental"]
BUILD_TIMEOUT_S = 700
RUN_TIMEOUT_S = 170
HEAP = "3g"
YOUNG = "384m"

# Spark 4 on JDK 17 needs these when the session is created outside
# spark-submit (the same list the repository's build.sbt passes).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


REQUIRED = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
            os.path.join(ROOT, "project", "build.properties"),
            os.path.join(ROOT, "src", "main", "scala"),
            os.path.join(ROOT, "src", "test", "scala", "graft", "odim",
                         "MiniHdf5Writer.scala")]


def source_files():
    """Every file the build reads, so a change to any of them rebuilds."""
    trees = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "project")]
    files = [f for f in REQUIRED if os.path.isfile(f)]
    for t in trees:
        for d, dirs, names in os.walk(t):
            dirs[:] = [x for x in dirs if x not in ("target", "project")]
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def source_stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_group(cmd, cwd, timeout, stdout, stderr, env=None):
    """Run cmd in its own process group; kill the group on timeout, or when
    this script is terminated, and wait for it."""
    p = subprocess.Popen(cmd, cwd=cwd, stdout=stdout, stderr=stderr, env=env,
                         start_new_session=True)

    def stop(signum, _frame):
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        sys.exit(128 + signum)

    for sig in (signal.SIGTERM, signal.SIGINT):
        signal.signal(sig, stop)
    try:
        p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
    return p.returncode


def build():
    """Compile with sbt if the sources changed; return the runtime classpath."""
    for f in REQUIRED:
        if not os.path.exists(f):
            fail(f"missing {os.path.relpath(f, ROOT)}: run from a full checkout")
    stamp = source_stamp()
    cp_file = os.path.join(BUILD_DIR, "classpath.txt")
    stamp_file = os.path.join(BUILD_DIR, "stamp.txt")
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == stamp:
                with open(cp_file) as fh:
                    return fh.read().strip()
    os.makedirs(BUILD_DIR, exist_ok=True)
    log = os.path.join(BUILD_DIR, "build.log")
    # the build resolves only from local caches: the program's jars are
    # unmanaged, and nothing may be fetched
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.isfile(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    with open(log, "w") as out:
        rc = run_group(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       HERE, BUILD_TIMEOUT_S, out, subprocess.STDOUT, env=env)
    with open(log) as fh:
        lines = [l.strip() for l in fh if l.strip()]
    if rc != 0 or not lines:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        fail(f"build failed (exit {rc}); see {os.path.relpath(log, ROOT)}")
    cp = lines[-1]
    if "perfbench" not in cp or cp.startswith("["):
        fail("build did not print a classpath")
    with open(cp_file, "w") as fh:
        fh.write(cp + "\n")
    with open(stamp_file, "w") as fh:
        fh.write(stamp + "\n")
    return cp


def java_bin():
    home = os.environ.get("JAVA_HOME")
    if home and os.path.isfile(os.path.join(home, "bin", "java")):
        return os.path.join(home, "bin", "java")
    return "java"


def run_workload(cp, workload, seed, seconds, trace, extra=()):
    """One JVM run; returns (detail line, result line, parsed result) or
    exits on error."""
    work = os.path.join(WORK_DIR, f"{workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    trace_out = os.path.join(OUT_DIR, f"trace-{workload}-seed{seed}.json")
    cmd = [java_bin()]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    # a fixed young generation keeps peak RSS from following G1's adaptive
    # sizing, which varies from run to run
    cmd += [f"-Xmx{HEAP}", f"-Xmn{YOUNG}", "-Dspark.ui.enabled=false",
            f"-Djava.io.tmpdir={work}", "-cp", cp, "perfbench.Main",
            "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(trace), "--work", work, "--trace-out", trace_out, *extra]
    out_path = os.path.join(WORK_DIR, f"{workload}-{os.getpid()}.out")
    err_path = os.path.join(WORK_DIR, f"{workload}-{os.getpid()}.err")
    try:
        with open(out_path, "w") as out, open(err_path, "w") as err:
            rc = run_group(cmd, work, RUN_TIMEOUT_S, out, err)
        with open(out_path) as fh:
            lines = [l.strip() for l in fh if l.strip()]
        with open(err_path) as fh:
            err = fh.read()
        err_tail = err[-4000:]
        sys.stderr.write("".join(l for l in err.splitlines(True) if "[perfbench]" in l))
    finally:
        shutil.rmtree(work, ignore_errors=True)
        for p in (out_path, err_path):
            if os.path.exists(p):
                os.remove(p)
    if rc != 0 or len(lines) < 2:
        sys.stderr.write(err_tail)
        fail(f"{workload}: JVM exited with {rc} (timeout after {RUN_TIMEOUT_S} s)"
             if rc is None else f"{workload}: JVM exited with {rc}")
    try:
        result = json.loads(lines[-1])
    except json.JSONDecodeError:
        sys.stderr.write(err_tail)
        fail(f"{workload}: unparseable result line")
    return lines[-2], lines[-1], result


def self_test(cp):
    ok = True
    for w in ["vpts_convert", "lake_backfill"]:
        _, _, r = run_workload(cp, w, 1, 1, 0, extra=["--truncate-one"])
        frac = r["failed"] / max(1, r["attempted"])
        passed = r["failed"] > 0 and r["correct"] is False
        ok &= passed
        print(f"self-test {w}: failed_frac={frac:.3f} correct={r['correct']} "
              f"-> {'ok' if passed else 'NOT DETECTED'}")
    sys.exit(0 if ok else 1)


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--self-test", action="store_true")
    a = ap.parse_args()
    if not a.self_test and not a.workload:
        ap.error("--workload is required")
    cp = build()
    if a.self_test:
        self_test(cp)
    t0 = time.time()
    detail, line, _ = run_workload(cp, a.workload, a.seed, a.seconds, a.trace)
    print(detail)
    print(f"perfbench: {a.workload} seed {a.seed} took {time.time() - t0:.1f} s",
          file=sys.stderr)
    print(line)


if __name__ == "__main__":
    main()
