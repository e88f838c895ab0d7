#!/usr/bin/env python3
"""Benchmark launcher.

    python3 benchmark/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 benchmark/run.py --all [--seed <n>] [--seconds <s>] [--trace <0|1>]
    python3 benchmark/run.py --overhead (--workload <name> | --all) [--seed <n>]

Run from the root of a checkout. The first run builds the program and the
harness from source with sbt (offline) into .bench_build/ and reuses that
build while no source file changes. Each run is one JVM at local[nproc]
with a fixed heap; every file it writes lives in a temporary directory under
.bench_build/ that is removed when the run ends.

The last line of standard output is the run's JSON record
({"correct", "attempted", "failed", "metrics"}); the line before it,
prefixed "detail:", carries diagnostics. --all runs every workload in turn,
prints each metric by name with its unit and exits 1 if an output check
failed. --overhead runs each workload untraced and traced with the same seed
and prints the difference of every end-to-end metric.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "graft-benchmark")
WORKLOADS = ["nyt_mirror", "rag_serve"]
HEAP = "3g"
RUN_LIMIT_S = 170  # a run must end within 180 s
BUILD_LIMIT_S = 700  # with one run, within the 900 s a first run may take

# Spark on JDK 17 outside spark-submit needs these (as the program's build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"benchmark: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    """Every file the build reads: the program's and the harness's."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    return sorted(f for f in files if os.path.isfile(f))


def build():
    """Compiles with sbt when the sources changed; returns the classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("no program sources next to the benchmark (build.sbt, src/main/scala)")
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == stamp:
                with open(cp_file) as fh:
                    return fh.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    opts = "-Dsbt.offline=true -Dsbt.server.autostart=false -Xmx2g"
    if os.path.isfile(repos):
        opts = f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos} " + opts
    env.setdefault("SBT_OPTS", opts)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        rc = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true",
                          "export Runtime/fullClasspath"],
                         cwd=HERE, env=env, stdout=out, limit=BUILD_LIMIT_S)
    with open(log) as fh:
        lines = fh.read().splitlines()
    if rc != 0 or not lines:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail(f"build failed (exit {rc}); log in {log}")
    cp = lines[-1].strip()
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cp


def run_bounded(cmd, cwd, env, stdout, limit, stderr=None):
    """Runs `cmd` in its own process group; kills the group after `limit`
    seconds, or when this launcher is terminated, and always waits for it to
    end."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout,
                         stderr=stderr if stderr is not None else subprocess.STDOUT,
                         start_new_session=True)

    def terminated(signum, _frame):
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        sys.exit(128 + signum)

    for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
        signal.signal(sig, terminated)
    try:
        return p.wait(timeout=limit)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return -9
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def jvm(cp, args, limit):
    """Runs bench.Main in a fresh JVM; returns (exit code, stdout lines)."""
    os.makedirs(os.path.dirname(BUILD), exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="run-", dir=os.path.dirname(BUILD))
    try:
        # JVM log lines go to stderr: stdout ends with the run's record
        cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC",
               "-Xlog:disable", "-Xlog:all=warning:stderr",
               f"-Djava.io.tmpdir={tmp}",
               f"-Dderby.system.home={tmp}",
               f"-Dderby.stream.error.file={os.path.join(tmp, 'derby.log')}"]
        for p in ADD_OPENS:
            cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
        cmd += ["-cp", cp, "bench.Main"] + args + ["--tmp", os.path.join(tmp, "work")]
        out_path = os.path.join(tmp, "stdout.txt")
        err_path = os.path.join(tmp, "stderr.txt")
        with open(out_path, "w") as out, open(err_path, "w") as err:
            rc = run_bounded(cmd, cwd=tmp, env=os.environ, stdout=out, stderr=err, limit=limit)
        with open(out_path) as fh:
            lines = fh.read().splitlines()
        if rc != 0:
            with open(err_path) as fh:
                sys.stderr.write("".join(fh.readlines()[-60:]))
        return rc, lines
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def parse_record(lines):
    if not lines:
        return None
    try:
        rec = json.loads(lines[-1])
    except ValueError:
        return None
    if set(rec) != {"correct", "attempted", "failed", "metrics"}:
        return None
    return rec


def run_one(cp, workload, seed, seconds, trace, tiny=False):
    t0 = time.monotonic()
    args = ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(trace)] + (["--tiny"] if tiny else [])
    rc, lines = jvm(cp, args, RUN_LIMIT_S - (time.monotonic() - t0))
    rec = parse_record(lines)
    if rc != 0 or rec is None:
        sys.stderr.write("\n".join(lines[-20:]) + "\n")
        fail(f"{workload}: run failed (exit {rc})", 1)
    return lines, rec


def overhead(cp, workloads, seed, seconds):
    """Tracing overhead: each workload untraced, then traced, same seed."""
    for w in workloads:
        _, plain = run_one(cp, w, seed, seconds, 0)
        lines, _ = run_one(cp, w, seed, seconds, 1)
        traced = json.loads(lines[-2][len("detail: "):])["traced_end_to_end"]
        print(f"== {w}: tracing overhead (traced - untraced)")
        for name, m in plain["metrics"].items():
            t = traced[name]
            print(f"   {name:20s} {m['value']:>12.6g} -> {t:>12.6g} {m['unit']:6s}"
                  f" ({(t - m['value']) / m['value']:+.1%})")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--all", action="store_true")
    ap.add_argument("--overhead", action="store_true",
                    help="report tracing overhead instead of one record")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--tiny", action="store_true", help="smoke-test input sizes")
    a = ap.parse_args()
    if not a.all and not a.workload:
        ap.error("give --workload or --all")
    build_start = time.monotonic()
    cp = build()
    if time.monotonic() - build_start > 5:
        print(f"benchmark: built in {time.monotonic() - build_start:.0f} s", file=sys.stderr)
    workloads = WORKLOADS if a.all else [a.workload]
    if a.overhead:
        overhead(cp, workloads, a.seed, a.seconds)
        return
    if not a.all:
        lines, _ = run_one(cp, a.workload, a.seed, a.seconds, a.trace, a.tiny)
        print("\n".join(lines[-2:]))
        return
    ok = True
    for w in workloads:
        lines, rec = run_one(cp, w, a.seed, a.seconds, a.trace, a.tiny)
        print(f"== {w}: correct={rec['correct']} attempted={rec['attempted']} "
              f"failed={rec['failed']}")
        for name, m in rec["metrics"].items():
            print(f"   {name:40s} {m['value']:>14.6g} {m['unit']}")
        if not rec["correct"] or rec["failed"]:
            print("   " + lines[-2][:2000])
            ok = False
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
