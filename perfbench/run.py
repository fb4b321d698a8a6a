#!/usr/bin/env python3
"""graft benchmark: one seeded workload, measured for a fixed time.

    python3 perfbench/run.py --workload search --seed 1 --seconds 6 --trace 0

Builds the benchmark client and graft from source with sbt (once per source
fingerprint, cached under perfbench/.build), runs the workload in one
`local[nproc]` Spark JVM with one closed-loop client, checks every output,
and prints one JSON line: {"correct", "attempted", "failed", "metrics"}.
`--trace 0` reports the end-to-end metrics of BENCHMARK.json; `--trace 1`
makes a separate traced run and reports the per-layer metrics. The full run
record (inputs drawn, planted duplicates, spans, listener totals, host
stamps) is written to perfbench/.runs/.
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

import report

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
RUNS = os.path.join(HERE, ".runs")
WORK = os.path.join(HERE, ".work")

JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
HEAP = "3g"

# Spark on JDK 17 needs these outside spark-submit (the list the root build
# passes to forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg, code):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def run_group(cmd, timeout, **kw):
    """Run `cmd` in its own process group; return its exit code, or None on
    a timeout. Whatever ends the wait (a timeout, or the launcher itself
    being stopped), no process of the group outlives it.
    """
    proc = subprocess.Popen(cmd, stdin=subprocess.DEVNULL, start_new_session=True, **kw)
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        return None
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()


def source_fingerprint():
    """Hash of every input of the build: graft's and the benchmark's."""
    h = hashlib.sha256()
    paths = []
    for base, sub in ((ROOT, "src/main"), (ROOT, "project"), (HERE, "src"), (HERE, "project")):
        for d, dirs, files in os.walk(os.path.join(base, sub)):
            dirs[:] = sorted(x for x in dirs if x != "target" and not x.startswith("."))
            paths += [os.path.join(d, f) for f in files]
    paths += [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for p in sorted(paths):
        if os.path.isfile(p):
            h.update(os.path.relpath(p, ROOT).encode() + b"\0")
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def classpath():
    """Compile with sbt when the sources changed; return the runtime classpath."""
    for need in ("build.sbt", "src/main/scala"):
        if not os.path.exists(os.path.join(ROOT, need)):
            die(f"graft sources not found ({need} missing beside perfbench/)", 2)
    fp = source_fingerprint()
    cp_file = os.path.join(BUILD, "classpath.txt")
    fp_file = os.path.join(BUILD, "fingerprint")
    if os.path.exists(cp_file) and os.path.exists(fp_file):
        with open(fp_file) as f, open(cp_file) as g:
            if f.read().strip() == fp:
                return g.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts + [env.get("SBT_OPTS", "")]).strip()
    log = os.path.join(BUILD, "sbt.log")
    out_file = os.path.join(BUILD, "sbt.out")
    with open(log, "w") as err, open(out_file, "w") as out:
        code = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true",
                          "export perfbench/Runtime/fullClasspath"],
                         BUILD_TIMEOUT_S, cwd=HERE, env=env, stdout=out, stderr=err)
    if code is None:
        die(f"build did not finish in {BUILD_TIMEOUT_S}s", 3)
    with open(out_file) as f:
        stdout = f.read()
    lines = [x for x in stdout.splitlines() if x.strip()]
    entries = lines[-1].split(os.pathsep) if lines else []
    if code != 0 or not entries or not all(os.path.exists(e) for e in entries):
        die(f"build failed (exit {code}); see {os.path.relpath(log, ROOT)}", 3)
    cp = os.pathsep.join(entries)
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(fp_file, "w") as f:
        f.write(fp)
    return cp


def run_jvm(cp, args, work, raw):
    cmd = (["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={work}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "graftbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--work", work, "--out", raw])
    log = os.path.join(RUNS, f"{args.workload}-seed{args.seed}-trace{args.trace}.log")
    with open(log, "w") as err:
        code = run_group(cmd, JVM_TIMEOUT_S, cwd=ROOT, stdout=err, stderr=err)
    if code is None:
        die(f"benchmark JVM did not finish in {JVM_TIMEOUT_S}s; see {os.path.relpath(log, ROOT)}", 4)
    if code != 0 or not os.path.exists(raw):
        die(f"benchmark JVM failed (exit {code}); see {os.path.relpath(log, ROOT)}", 4)


def on_term(signum, frame):
    raise SystemExit(128 + signum)


def main():
    # a terminated launcher still stops its JVM (see run_group)
    signal.signal(signal.SIGTERM, on_term)
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(report.UNIT_KINDS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    spec = report.load_spec()
    cp = classpath()
    os.makedirs(RUNS, exist_ok=True)
    work = os.path.join(WORK, f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    raw = os.path.join(work, "raw.json")
    try:
        run_jvm(cp, args, work, raw)
        with open(raw) as f:
            rec = json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    try:
        line = report.result_line(rec, spec)
    except ValueError as e:
        die(str(e), 5)
    rec["span_self_ms"] = {str(k): v for k, v in report.self_times(rec["spans"]).items()}
    rec["result"] = line
    with open(os.path.join(RUNS, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as f:
        json.dump(rec, f)
    print(json.dumps(line))


if __name__ == "__main__":
    main()
