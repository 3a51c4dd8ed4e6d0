#!/usr/bin/env python3
"""Benchmark of the chilon path (RDF files and crawl pages to a namespace summary).

Run from the repository root:

    python3 chilonbench/run.py --workload rdf_nt_infer --seed 1 --seconds 10 --trace 0

Builds the program and the benchmark from source with sbt when they changed
(cached under chilonbench/.build), then runs one workload in one JVM with
Spark at local[nproc]. The last line of standard output is the result as JSON.
--size smoke runs tiny inputs; the benchmark's own test (test_smoke.py)
runs it with --workload all, every workload in one JVM.
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
from pathlib import Path

START = time.monotonic()
BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
BUILD = BENCH / ".build"
WORKLOADS = ("rdf_nt_infer", "ttl_declared", "pages_kg")
# a run must end within 180 s, or 900 s when it also builds
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 880

# Spark 4 on JDK 17 outside spark-submit, as in the root build.sbt
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=1):
    print(f"chilonbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    """Every file the build reads: the program's and the benchmark's."""
    files = [ROOT / "build.sbt", BENCH / "build.sbt"]
    for base in (ROOT / "project", BENCH / "project"):
        files += sorted(p for p in base.glob("*") if p.is_file())
    for base in (ROOT / "src" / "main", BENCH / "src"):
        files += sorted(p for p in base.rglob("*") if p.is_file())
    return files


def stamp():
    h = hashlib.sha256()
    for p in source_files():
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = Path.home() / ".sbt" / "repositories"
        if repos.is_file():
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    # every JVM the sbt script starts, its version probe too: no hsperfdata file in /tmp
    env["JAVA_TOOL_OPTIONS"] = (env.get("JAVA_TOOL_OPTIONS", "") + " -XX:-UsePerfData").strip()
    return env


def sbt_jvm_args():
    """JVM options of the build, as sbt arguments (a path may hold spaces).

    sbt binds a unix socket under java.io.tmpdir while it boots, and a socket
    path may not exceed 108 bytes, which a deep checkout overruns. With
    sbt.server.forcestart sbt builds on without that socket; the batch build
    does not need it.
    """
    tmp = BUILD / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    return [f"-Djava.io.tmpdir={tmp}", "-Dsbt.server.forcestart=true"]


def run_group(cmd, timeout, **kw):
    """Runs cmd in its own process group; kills the whole group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise
    return p.returncode, out


def build():
    """Returns the runtime classpath, building when any source changed."""
    cp_file, stamp_file = BUILD / "classpath.txt", BUILD / "stamp"
    want = stamp()
    if cp_file.is_file() and stamp_file.is_file() and stamp_file.read_text() == want:
        return cp_file.read_text().strip(), False
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH; it is needed to build the program")
    BUILD.mkdir(parents=True, exist_ok=True)
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", *sbt_jvm_args(),
           "export chilonbench/Runtime/fullClasspath"]
    try:
        code, out = run_group(cmd, BUILD_LIMIT_S - (time.monotonic() - START), cwd=BENCH,
                              env=sbt_env(), stdout=subprocess.PIPE, stdin=subprocess.DEVNULL,
                              text=True)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    # the exported classpath is the one output line that is not a log line
    lines = [l for l in out.splitlines() if ".jar" in l and not l.startswith("[")]
    sys.stderr.write("\n".join(l for l in out.splitlines() if l not in lines) + "\n")
    if code != 0 or not lines:
        fail(f"build failed (sbt exit code {code})")
    cp = lines[-1].strip()
    cp_file.write_text(cp)
    stamp_file.write_text(want)
    return cp, True


def memory_limit_kb():
    """The container's memory limit (cgroup v2 or v1), or None when there is none."""
    for f in ("/sys/fs/cgroup/memory.max", "/sys/fs/cgroup/memory/memory.limit_in_bytes"):
        try:
            return int(Path(f).read_text().strip()) // 1024
        except (OSError, ValueError):
            continue
    return None


def heap():
    """Half the RAM in GiB, clamped to [2, 8]: the formula of the test command in ROADMAP.md.

    RAM is MemTotal, or the container's memory limit when that is lower.
    """
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
    except (OSError, StopIteration, ValueError):
        return "2g"
    kb = min(kb, memory_limit_kb() or kb)
    return f"{min(8, max(2, kb // 2097152))}g"


def signed64(n):
    """The seed as the program's 64-bit seed: any integer, reduced modulo 2^64."""
    n &= (1 << 64) - 1
    return n - (1 << 64) if n >= 1 << 63 else n


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    ap.add_argument("--size", default="full", choices=("full", "smoke"))
    a = ap.parse_args()

    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        fail(f"no program sources at {ROOT} (build.sbt, src/main/scala)", 2)
    if shutil.which("java") is None:
        fail("java is not on PATH")

    cp, built = build()
    limit = (BUILD_LIMIT_S if built else RUN_LIMIT_S) - (time.monotonic() - START)

    run_dir = BENCH / ".runs" / f"{a.workload}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    (run_dir / "tmp").mkdir(parents=True)
    trace_out = BENCH / ".traces" / f"{a.workload}-seed{a.seed}.jsonl"
    k = cores()
    # -Xms = -Xmx: G1 resizing the heap during the timed jobs moved job times
    # by up to a third between runs. -XX:-UsePerfData: no hsperfdata file in /tmp.
    cmd = ["java", f"-Xmx{heap()}", f"-Xms{heap()}", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={run_dir / 'tmp'}",
           f"-Dlog4j2.configurationFile={BENCH / 'log4j2.properties'}"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graft.chilonbench.Main",
            "--workload", a.workload, "--seed", str(signed64(a.seed)), "--seconds", str(a.seconds),
            "--trace", a.trace, "--size", a.size, "--cores", str(k),
            "--run-dir", str(run_dir), "--trace-out", str(trace_out)]
    env = dict(os.environ)
    # Spark prefers these over spark.local.dir; keep its scratch in the run dir
    env.pop("SPARK_EXECUTOR_DIRS", None)
    env["SPARK_LOCAL_DIRS"] = str(run_dir / "spark-local")
    # bind to loopback: the host name need not resolve, nor a network interface exist
    env["SPARK_LOCAL_IP"] = "127.0.0.1"
    env["SPARK_LOCAL_HOSTNAME"] = "localhost"
    try:
        code, out = run_group(cmd, limit, cwd=ROOT, env=env, stdout=subprocess.PIPE,
                              stdin=subprocess.DEVNULL, text=True)
    except subprocess.TimeoutExpired:
        fail(f"workload {a.workload} timed out after {limit:.0f} s")
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    lines = out.rstrip("\n").splitlines()
    if code != 0 or not lines:
        sys.stderr.write(out)
        fail(f"workload {a.workload} failed (exit code {code})")
    try:
        result = json.loads(lines[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
    except (ValueError, AssertionError):
        sys.stderr.write(out)
        fail(f"workload {a.workload} printed no result line")
    sys.stdout.write(out if out.endswith("\n") else out + "\n")


if __name__ == "__main__":
    main()
