#!/usr/bin/env python3
"""Benchmark command: build the program and the benchmark from source, run
one workload in a fresh JVM, and print the result.

    python3 perfbench/run.py --workload fleet_sf0.001 --seed 7 --seconds 25 --trace 0

Run it from the root of a checkout. The last line of standard output is one
JSON object {"correct", "attempted", "failed", "metrics"}; with --trace 0 it
carries the end-to-end metrics, with --trace 1 the per-layer ones, and the
traced run also writes its spans to <build dir>/traces/. BENCHMARK.json and
perfbench/METRICS.md describe the workloads and metrics.

Everything the run writes stays under the build directory ($CARGO_TARGET_DIR,
else .bench_build): compiled classes, and one private scratch directory per
run (java.io.tmpdir, spark.local.dir, the mart warehouse) that is removed at exit.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.relpath(os.path.dirname(os.path.abspath(__file__)))
PROGRAM_SRC = os.path.join("src", "main", "scala")
WORKLOADS = ("fleet_sf0.001", "fleet_sf0.1", "marts_sf0.1")
RUN_TIMEOUT_S = 170
# A fixed, pre-touched heap: peak RSS then does not depend on how the
# collector happened to size the heap, and moves with what the program holds
# outside it (code cache, metaspace, buffers, threads).
HEAP = ["-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch"]

# Same module openings build.sbt gives forked JVMs (Spark on JDK 17).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def build_root():
    return os.path.join(os.environ.get("CARGO_TARGET_DIR") or ".bench_build", "perfbench")


def spark_jars():
    """The jar directory build.sbt compiles against (its unmanagedBase), else
    $SPARK_HOME/jars."""
    try:
        with open("build.sbt") as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        m = None
    d = m.group(1) if m else os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
    if not os.path.isdir(d):
        fail(f"Spark jars not found in {d}")
    return d


def scala_sources(root):
    out = []
    for d, _, files in os.walk(root):
        out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def build():
    """Compile the program and the benchmark with scalac from the Spark
    distribution, unless the sources are unchanged since the last build.
    Returns the class path of both."""
    program = scala_sources(PROGRAM_SRC)
    bench = scala_sources(os.path.join(BENCH, "src"))
    if not program:
        fail(f"no program sources under {PROGRAM_SRC}; run from the root of a checkout")
    digest = hashlib.sha256()
    for p in program + bench:
        digest.update(p.encode())
        with open(p, "rb") as f:
            digest.update(f.read())
    stamp = digest.hexdigest()
    root = build_root()
    out = os.path.join(root, "classes-" + stamp[:16])
    cp = [os.path.join(out, "program"), os.path.join(out, "bench")]
    if os.path.isfile(os.path.join(out, "ok")):
        return cp, stamp
    shutil.rmtree(root + "/.partial", ignore_errors=True)
    part = os.path.join(root, ".partial")
    jars = spark_jars()
    for name, srcs, extra in (("program", program, []),
                              ("bench", bench, ["-cp", os.path.join(part, "program")])):
        os.makedirs(os.path.join(part, name))
        cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"), "scala.tools.nsc.Main",
               "-usejavacp", "-nowarn", *extra, "-d", os.path.join(part, name), *srcs]
        t0 = time.time()
        r = subprocess.run(cmd, stdout=sys.stderr)
        if r.returncode != 0:
            fail(f"compiling the {name} failed")
        print(f"[perfbench] compiled {name} ({len(srcs)} files) in {time.time() - t0:.1f} s", file=sys.stderr)
    open(os.path.join(part, "ok"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.replace(part, out)
    for old in os.listdir(root):
        if old.startswith("classes-") and os.path.join(root, old) != out:
            shutil.rmtree(os.path.join(root, old), ignore_errors=True)
    return [os.path.join(out, "program"), os.path.join(out, "bench")], stamp


def commit(stamp):
    """Git commit of the checkout when it is the top of a repository, else
    the digest of the compiled sources."""
    try:
        r = subprocess.run(["git", "rev-parse", "--show-toplevel", "HEAD"],
                           capture_output=True, text=True, timeout=10)
        top, head = (r.stdout.split() + ["", ""])[:2]
        if r.returncode == 0 and os.path.realpath(top) == os.path.realpath("."):
            return head
    except (OSError, subprocess.SubprocessError):
        pass
    return "sources-" + stamp[:16]


def nproc():
    return len(os.sched_getaffinity(0))


def java(mode_args, run_dir, cp, stamp, timeout=RUN_TIMEOUT_S, cores=None):
    """Run perfbench.Main in a fresh JVM whose scratch space is `run_dir`,
    on a local[cores] session (default: nproc). Returns (exit code, stdout
    lines)."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    env = dict(os.environ)
    env["SPARK_LOCAL_DIRS"] = os.path.abspath(local)  # overrides spark.local.dir when set
    for k in list(env):
        if k.startswith("SPARK_GRAFT_"):
            del env[k]
    cmd = ["java", *HEAP, f"-Djava.io.tmpdir={os.path.abspath(tmp)}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Dperfbench.commit={commit(stamp)}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", os.pathsep.join([os.path.abspath(c) for c in cp] + [os.path.join(spark_jars(), "*")]),
            "perfbench.Main", "--bench", os.path.abspath(BENCH), "--run-dir", os.path.abspath(run_dir),
            "--cores", str(cores or nproc()), *mode_args]
    proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)

    def stop(*_):
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise SystemExit(f"[perfbench] stopped; JVM {proc.pid} killed")

    handlers = {sig: signal.signal(sig, stop) for sig in (signal.SIGTERM, signal.SIGINT)}
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        stop()
    finally:
        for sig, h in handlers.items():
            signal.signal(sig, h)
    return proc.returncode, out.splitlines()


def scratch_dir(tag):
    d = os.path.join(build_root(), "runs", f"{tag}-{os.getpid()}")
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    return d


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    ap.add_argument("--goldens-dir", help="read goldens from here instead of perfbench/goldens (self-test)")
    a = ap.parse_args()
    if a.seconds <= 0:
        fail("--seconds must be positive")
    cp, stamp = build()
    run_dir = scratch_dir(f"{a.workload}-{a.seed}")
    trace_out = os.path.abspath(os.path.join(build_root(), "traces", f"{a.workload}-seed{a.seed}.jsonl"))
    args = ["--mode", "run", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace, "--trace-out", trace_out]
    if a.goldens_dir:
        args += ["--goldens-dir", os.path.abspath(a.goldens_dir)]
    try:
        code, lines = java(args, run_dir, cp, stamp)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            pass
    if code != 0 or not isinstance(result, dict) or set(result) != {"correct", "attempted", "failed", "metrics"}:
        for line in lines:
            print(line, file=sys.stderr)
        fail(f"benchmark JVM exited with {code} and no result", 1)
    print("\n".join(lines))


if __name__ == "__main__":
    main()
