#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload <cdc_batch|cdc_stream|op_board> \
        --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the program and the
benchmark from source with sbt (perfbench/build.sbt) into .bench_build/;
later runs reuse that build while the sources are unchanged. Every file
the run writes stays under .bench_build/. Exit code 0 means the workload
ran and its result line was printed (the line itself says whether every
check passed); any other code means no result.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "perfbench")
BUILD = os.path.join(ROOT, ".bench_build")
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
JVM_HEAP = "3g"
# Spark on JDK 17 needs these when started outside spark-submit.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Digest of every input of the build: sources and build files."""
    h = hashlib.sha256()
    roots = [PROGRAM_SRC, os.path.join(BENCH, "src", "main")]
    files = [os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        st = os.stat(f)
        h.update(f"{os.path.relpath(f, ROOT)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def classpath():
    """Build if the sources changed since the last build; return the
    runtime classpath."""
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp.txt")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    os.makedirs(BUILD, exist_ok=True)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        rc = subprocess.call(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=BENCH, stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S)
    if rc != 0:
        fail(f"build failed (exit {rc}); see {os.path.relpath(log, ROOT)}")
    with open(log) as f:
        lines = [l.strip() for l in f if l.strip()]
    cps = [l for l in lines if not l.startswith("[") and "scala-2.13" in l]
    if not cps:
        fail(f"build printed no classpath; see {os.path.relpath(log, ROOT)}")
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cps[-1]


def check_result(workload, trace, result):
    """A workload that BENCHMARK.json drives must print exactly the
    manifest's metrics for this kind of run (end-to-end untraced,
    per-layer traced), each a number in the manifest's unit."""
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(path):
        return
    with open(path) as f:
        manifest = json.load(f)
    if workload not in {w["name"] for w in manifest["workloads"]}:
        return
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail(f"result keys {sorted(result)}")
    want = {m["name"]: m["unit"]
            for m in manifest["per_layer" if trace else "end_to_end"]}
    got = result["metrics"]
    missing = sorted(set(want) - set(got))
    extra = sorted(set(got) - set(want))
    wrong = sorted(k for k in set(want) & set(got)
                   if got[k].get("unit") != want[k]
                   or not isinstance(got[k].get("value"), (int, float)))
    if missing or extra or wrong:
        fail(f"workload {workload} printed no valid result: missing {missing}, "
             f"not in the manifest {extra}, wrong unit or no value {wrong}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(PROGRAM_SRC, "graft")):
        fail("program sources (src/main/scala/graft) not found; "
             "run from the root of a checkout")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java must be on PATH")
    cp = classpath()

    run_id = f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}"
    work = os.path.join(BUILD, "work", run_id)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", f"-Djava.io.tmpdir={tmp}",
           "-Dlog4j2.configurationFile=" + os.path.join(BENCH, "log4j2.properties")]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graft.perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--fixtures", os.path.join(BENCH, "fixtures"), "--work", work]
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                            stdin=subprocess.DEVNULL, text=True,
                            start_new_session=True)
    result = None
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"workload {a.workload} did not finish in {RUN_TIMEOUT_S} s")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        spans = os.path.join(work, "spans.json")
        if os.path.exists(spans):
            os.makedirs(os.path.join(BUILD, "traces"), exist_ok=True)
            shutil.move(spans, os.path.join(BUILD, "traces", run_id + ".json"))
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    for l in lines[:-1]:
        print(l, file=sys.stderr)
    if proc.returncode != 0 or not lines:
        fail(f"workload {a.workload} exited {proc.returncode} without a result")
    try:
        result = json.loads(lines[-1])
    except ValueError:
        fail(f"workload {a.workload} printed no result line")
    check_result(a.workload, a.trace, result)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
