#!/usr/bin/env python3
"""Benchmark entry point for graft: builds the driver, runs one workload, relays its result.

    python3 perfbench/run.py --workload build --seed 1 --seconds 10 --trace 0

Run from the root of a source checkout. The first run compiles the library
sources of the checkout together with the driver (perfbench/build.sbt);
later runs reuse the classes while no source file has changed. The driver
runs in one JVM at local[nproc], with the heap derived from MemTotal the way
the library's test suite derives it. Every file a run writes is under
.bench_build/ in the checkout, and each run deletes its scratch directory
(Spark local, shuffle and checkpoint dirs, generated inputs) when it ends.

The last line of standard output is the result: one JSON object with the
keys correct, attempted, failed and metrics. Without a library checkout
around perfbench/ the script exits with status 2 and prints no result.
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

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
WORK = ROOT / ".bench_build"
CLASSES = BENCH / "target" / "scala-2.13" / "classes"
STAMP = BENCH / "target" / "perfbench.stamp"
WORKLOADS = ("build", "stream_rollup", "dedup")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850

# Spark on JDK 17 outside spark-submit needs these (as in the library's build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = str(Path(submit).resolve().parent.parent)
    if not home or not (Path(home) / "jars").is_dir():
        fail("no Spark installation: set SPARK_HOME or put spark-submit on PATH")
    return home


def source_stamp():
    """Hash of every file the build reads, so a changed source rebuilds."""
    h = hashlib.sha256()
    inputs = [BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for base in (ROOT / "src" / "main", BENCH / "src" / "main"):
        inputs += sorted(p for p in base.rglob("*") if p.is_file())
    for p in inputs:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build(env):
    stamp = source_stamp()
    if CLASSES.is_dir() and STAMP.is_file() and STAMP.read_text() == stamp:
        return
    log("compiling the library and the benchmark driver (sbt compile)")
    t0 = time.time()
    # keep sbt's temporary files (server socket, file watcher, JNA) in the checkout
    tmp = WORK / "sbt-tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    sbt_opts = f"{env.get('SBT_OPTS', '')} -XX:-UsePerfData -Djava.io.tmpdir={tmp} -Djna.tmpdir={tmp}"
    proc = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
                           "compile"], cwd=BENCH, env=dict(env, SBT_OPTS=sbt_opts.strip()),
                          stdout=sys.stderr, stderr=sys.stderr, stdin=subprocess.DEVNULL,
                          timeout=BUILD_TIMEOUT_S)
    if proc.returncode != 0 or not CLASSES.is_dir():
        fail(f"build failed (sbt exit {proc.returncode})", 1)
    STAMP.write_text(stamp)
    log(f"build done in {time.time() - t0:.0f} s")


def heap_gb():
    """MemTotal/2, clamped to [2, 8] GiB: the library test suite's rule."""
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    return max(2, min(8, int(line.split()[1]) // 2097152))
    except OSError:
        pass
    return 2


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args()

    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir() or not (BENCH / "build.sbt").is_file():
        fail(f"{ROOT} is not a graft source checkout (src/main/scala/graft is missing)")
    home = spark_home()
    env = dict(os.environ, SPARK_HOME=home)
    build(env)

    run_dir = WORK / f"run-{os.getpid()}-{time.time_ns()}"
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True)
    trace_out = WORK / "traces" / f"{args.workload}-seed{args.seed}-{os.getpid()}.jsonl"
    # -XX:-UsePerfData: the JVM would otherwise write hsperfdata under /tmp
    cmd = (["java", f"-Xmx{heap_gb()}g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            f"-Dlog4j.configurationFile={BENCH / 'log4j2.properties'}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", f"{CLASSES}{os.pathsep}{Path(home) / 'jars' / '*'}", "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
              "--trace", str(args.trace), "--scratch", str(run_dir / "scratch"),
              "--trace-out", str(trace_out)])
    proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=subprocess.PIPE, stderr=sys.stderr,
                            stdin=subprocess.DEVNULL, start_new_session=True, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"driver exceeded {RUN_TIMEOUT_S} s and was stopped", 3)
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)

    lines = [l for l in out.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines:
        fail(f"driver exited with status {proc.returncode}", 1)
    result = json.loads(lines[-1])
    expected = expected_metrics(args.trace)
    missing = sorted(expected - set(result["metrics"])) if expected else []
    if missing:
        fail(f"driver result lacks metrics {missing}", 1)
    print(json.dumps(result), flush=True)


def expected_metrics(trace):
    spec = ROOT / "BENCHMARK.json"
    if not spec.is_file():
        return set()
    section = "per_layer" if trace else "end_to_end"
    return {m["name"] for m in json.loads(spec.read_text())[section]}


if __name__ == "__main__":
    main()
