#!/usr/bin/env python3
"""Run one benchmark workload against the engine and print its result line.

    python3 perfbench/run.py --workload tvf_lookup --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run builds the engine and the
benchmark from source with sbt (offline) and generates the input corpus,
all under the build directory (`$CARGO_TARGET_DIR`, default `.bench_build`);
later runs reuse them until a source file changes. Each run is a fresh JVM
working in its own directory under `.bench_run/`, which is removed when the
run ends, so no warehouse table, sink, checkpoint or registry outlives it.

The last line of stdout is the result: {"correct", "attempted", "failed",
"metrics"}; with --trace 1 the metrics are the per-layer ones and the span
trace is written to --trace-out (default: <build dir>/traces/). The exit code
is 0 for a correct run, 1 when an output fingerprint did not match, and 2
when the benchmark could not run.
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
WORKLOADS = ("tvf_lookup", "model_dag")
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 650
# What spark-submit would pass on JDK 17 (JavaModuleOptions.defaultModuleOptions).
JVM_OPENS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED"
    for p in ("java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
              "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
              "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")
] + ["-Dio.netty.tryReflectionSetAccessible=true"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def source_digest():
    """Digest of every input of the build, so a changed source rebuilds."""
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
            os.path.join(HERE, "src"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for top in tops:
        for dirpath, dirnames, filenames in os.walk(top):
            dirnames[:] = sorted(d for d in dirnames if d not in ("target", "project"))
            files += [os.path.join(dirpath, f) for f in sorted(filenames)
                      if f.endswith((".scala", ".java", ".sbt", ".properties"))]
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_logged(cmd, log, timeout, **kw):
    with open(log, "ab") as out:
        proc = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT, start_new_session=True, **kw)
        try:
            return proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            return None


def ensure_built():
    """Returns (classpath, corpus dir), building both if missing or stale."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(f"engine sources not found under {ROOT} (build.sbt, src/main/scala/graft)")
    out = build_dir()
    stamp = os.path.join(out, "classpath.txt")
    corpus = os.path.join(out, "corpus")
    digest = source_digest()
    if os.path.isfile(stamp) and os.path.isdir(corpus):
        with open(stamp) as fh:
            lines = fh.read().splitlines()
        if len(lines) == 2 and lines[0] == digest:
            return lines[1], corpus
    os.makedirs(out, exist_ok=True)
    log = os.path.join(out, "build.log")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Dsbt.override.build.repos=true")
    t0 = time.time()
    rc = run_logged(["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
                    log, BUILD_LIMIT_S, cwd=HERE, env=env)
    with open(log, errors="replace") as fh:
        tail = fh.read().splitlines()
    cp = tail[-1].strip() if tail else ""
    if rc != 0 or not cp or not all(os.path.exists(p) for p in cp.split(os.pathsep)):
        fail(f"build failed (rc={rc}); see {log}:\n" + "\n".join(tail[-20:]))
    shutil.rmtree(corpus, ignore_errors=True)
    tmp = corpus + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.join(out, "tmp"), exist_ok=True)
    rc = run_logged(["java", *JVM_OPENS, "-Xmx1g", f"-Djava.io.tmpdir={os.path.join(out, 'tmp')}",
                     "-cp", cp, "perfbench.Main", "--make-corpus", tmp],
                    log, BUILD_LIMIT_S - (time.time() - t0), cwd=out)
    if rc != 0:
        fail(f"corpus generation failed (rc={rc}); see {log}")
    os.rename(tmp, corpus)
    with open(stamp, "w") as fh:
        fh.write(f"{digest}\n{cp}\n")
    return cp, corpus


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--trace-out", help="where the traced run writes its spans and per-layer figures")
    ap.add_argument("--record", help="instead of a run, record every output fingerprint to this file")
    a = ap.parse_args()

    cp, corpus = ensure_built()
    started = time.time()
    runs = os.path.join(ROOT, ".bench_run")
    work = os.path.join(runs, f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    trace_out = a.trace_out or os.path.join(build_dir(), "traces", f"{a.workload}-seed{a.seed}.json")
    jvm_args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--trace-out", os.path.abspath(trace_out)]
    if a.record:
        jvm_args = ["--record", os.path.abspath(a.record)]
    cmd = ["java", *JVM_OPENS, "-Xmx2g", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC", "-cp", cp, "perfbench.Main",
           "--corpus", corpus, "--work", work, "--fingerprints", os.path.join(HERE, "fingerprints.tsv"),
           "--launched-ns", str(time.time_ns()), *jvm_args]
    log = os.path.join(work, "jvm.log")
    try:
        with open(log, "wb") as err:
            proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err, cwd=work, start_new_session=True)
            try:
                out, _ = proc.communicate(timeout=RUN_LIMIT_S - (time.time() - started))
            except subprocess.TimeoutExpired:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.communicate()
                out = None
        with open(log, errors="replace") as fh:
            jvm_log = fh.read().splitlines()
    finally:
        shutil.rmtree(work, ignore_errors=True)
        if os.path.isdir(runs) and not os.listdir(runs):
            os.rmdir(runs)
    for line in jvm_log:
        if line.startswith("[perfbench]"):
            print(line, file=sys.stderr)
    if out is None:
        fail(f"run exceeded {RUN_LIMIT_S} s and was killed")
    if a.record:
        if proc.returncode != 0:
            fail("recording failed:\n" + "\n".join(jvm_log[-30:]))
        return
    lines = out.decode(errors="replace").strip().splitlines()
    try:
        result = json.loads(lines[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
    except (IndexError, ValueError, AssertionError):
        fail(f"no result line (rc={proc.returncode}):\n" + "\n".join(jvm_log[-30:]))
    print(json.dumps(result))
    sys.exit(0 if proc.returncode == 0 and result["correct"] else 1)


if __name__ == "__main__":
    main()
