#!/usr/bin/env python3
"""Same-host benchmark of the graft ingest loop and headline queries.

Usage (from the repository root):

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: ingest-backlog, ingest-live, headline-queries (see NOTES.md).
The first run compiles the repository's main sources plus the harness in
perfbench/src with the Scala compiler that ships in $SPARK_HOME/jars, into
$CARGO_TARGET_DIR (default .bench_build); later runs reuse the classes while
the sources are unchanged. The harness runs in its own JVM, on local[nproc].

The last line of standard output is one JSON object: correct, attempted,
failed and metrics (the end-to-end metrics with --trace 0, the per-layer
metrics with --trace 1). Lines starting with '#' before it are the detail.
Drains and warm passes taken under host CPU steal are repeated while the
run has time; the detail lines say how many were, and how many of them had
to be measured anyway.

Options for the benchmark's own tests and golden-file upkeep:
  --size tiny            small inputs (sf0.001, a few files)
  --fault drop-file      lose one input file; the checks must catch it
  --golden <file>        golden digest file (default perfbench/golden/<size>.tsv)
  --digest-dir <dir>     instead of a run, write the golden file from the
                         outputs of graft.Verify in <dir>/<scale>, once
                         tools/compare.py has accepted them (NOTES.md)
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import threading

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUN_TIMEOUT_S = 170
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def java_bin():
    home = os.environ.get("JAVA_HOME")
    if home and os.path.exists(os.path.join(home, "bin", "java")):
        return os.path.join(home, "bin", "java")
    return shutil.which("java") or fail("no java on PATH")


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    submit = shutil.which("spark-submit")
    if not home and submit:
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or fail("SPARK_HOME is not set"), "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        fail(f"no Spark/Scala jars under {jars}")
    return jars


def build(build_dir, jars):
    """Compile the program and the harness; reuse classes while unchanged."""
    program = os.path.join(ROOT, "src", "main", "scala")
    sources = sorted(glob.glob(os.path.join(program, "**", "*.scala"), recursive=True))
    if not sources:
        fail(f"no program sources under {program}")
    sources += sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    h = hashlib.sha256()
    for s in sources:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    classes = os.path.join(build_dir, "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(classes, ".ok")):
        return classes
    os.makedirs(build_dir, exist_ok=True)
    for old in glob.glob(os.path.join(build_dir, "classes-*")):
        shutil.rmtree(old, ignore_errors=True)
    tmp = classes + ".tmp"
    os.makedirs(tmp)
    argfile = os.path.join(build_dir, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(sources) + "\n")
    cp = os.path.join(jars, "*")
    cmd = [java_bin(), "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp,
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp, "-classpath", cp,
           "@" + argfile]
    print(f"perfbench: compiling {len(sources)} sources", file=sys.stderr)
    if subprocess.run(cmd, stdout=sys.stderr).returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        fail("compilation failed")
    os.remove(argfile)
    os.rename(tmp, classes)
    open(os.path.join(classes, ".ok"), "w").close()
    return classes


def build_dir():
    return os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or
                           os.path.join(ROOT, ".bench_build"))


def cpu_times():
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def listing(d):
    try:
        return set(os.listdir(d))
    except OSError:
        return set()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["ingest-backlog", "ingest-live", "headline-queries"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    ap.add_argument("--size", choices=["full", "tiny"], default="full")
    ap.add_argument("--fault", choices=["none", "drop-file"], default="none")
    ap.add_argument("--golden")
    ap.add_argument("--digest-dir")
    a = ap.parse_args()

    jars = spark_jars()
    out_dir = build_dir()
    classes = build(out_dir, jars)
    golden = os.path.abspath(a.golden or os.path.join(HERE, "golden", a.size + ".tsv"))
    classpath = f"{classes}:{os.path.join(jars, '*')}"
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    if a.digest_dir:
        sys.exit(subprocess.run([java_bin(), *opens, "-cp", classpath, "perfbench.Golden",
                                 os.path.abspath(a.digest_dir), golden, a.size]).returncode)
    cores = len(os.sched_getaffinity(0))
    work = os.path.join(out_dir, f"work-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    trace_out = os.path.join(out_dir, "traces", f"{a.workload}-seed{a.seed}.json")

    scratch = {d: listing(d) for d in ("/tmp", "/dev/shm")}
    cpu_before = cpu_times()
    cmd = [java_bin(), "-Xms4g", "-Xmx4g", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC", *opens, "-cp", classpath, "perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", a.trace,
           "--work", os.path.join(work, "run"), "--data", os.path.join(HERE, "data"),
           "--golden", golden, "--trace-out", trace_out, "--cores", str(cores),
           "--size", a.size, "--fault", a.fault]

    result = None
    proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, text=True)
    watchdog = threading.Timer(RUN_TIMEOUT_S, proc.kill)
    watchdog.start()
    try:
        for line in proc.stdout:
            line = line.rstrip("\n")
            if line.startswith("{"):
                result = json.loads(line)
            else:
                print(line, flush=True)
    finally:
        watchdog.cancel()
        if proc.poll() is None:
            proc.kill()
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)

    if proc.returncode != 0 or result is None:
        fail(f"harness exited with {proc.returncode} and no result")

    # Share of CPU time the hypervisor gave to other guests during the run:
    # the host's own noise, printed so a slow run can be told from a slow
    # program.
    busy = [a - b for a, b in zip(cpu_times(), cpu_before)]
    print(f"# host.steal_share {busy[7] / max(sum(busy[:8]), 1):.4f} ratio")

    # Nothing the run created may outlive it in /tmp or /dev/shm: leftover
    # tmpfs trees hold RAM.
    leaked = sorted(os.path.join(d, e) for d, before in scratch.items()
                    for e in listing(d) - before)
    result["attempted"] += 1
    if leaked:
        print(f"# FAIL left behind: {' '.join(leaked)}")
        result["failed"] += 1
        result["correct"] = False
    print(json.dumps(result))


if __name__ == "__main__":
    main()
