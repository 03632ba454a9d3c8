#!/usr/bin/env python3
"""graft benchmark: run one workload once and print its metrics.

    python3 perfbench/run.py --workload report_stream --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout. The first call builds the engine
and the harness from source with sbt (perfbench/build.sbt) into
.bench_build/; later calls reuse the build until a source file changes.
Each run then starts one JVM with `local[<cores>]`, a fresh Spark scratch
dir and a fresh artifact root under .bench_build/runs/, and removes them
afterwards. The corpus is the sf0.1 tables in perfbench/data/.

Workloads (BENCHMARK.json says why each was chosen):
  report_stream  ReportStream.pipelineStar over ~1000-row event files
  batch          report-side and training-data registry queries

--trace 0 prints the end-to-end metrics, --trace 1 the per-layer ones
and writes the run's spans to .bench_build/traces/. Human-readable
lines come first; the last stdout line is one JSON object:
  {"correct": .., "attempted": .., "failed": .., "metrics": {..}}
The JVM's log goes to .bench_build/logs/<workload>-<seed>.log.

--record (with --workload batch) prints the digest of every checked
query and of the stream's expected fact sink instead, for
perfbench/expected.tsv.

Exit status is 0 only when a result was printed.
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
BUILD = ROOT / ".bench_build"
CLASSES = BUILD / "target" / "scala-2.13" / "classes"
DATA = BENCH / "data" / "sf0.1"
EXPECTED = BENCH / "expected.tsv"
WORKLOADS = ("report_stream", "batch")
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 700

# Spark 4 on JDK 17 needs these outside spark-submit (the engine's own
# build.sbt passes the same list)
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


def sources():
    """Every file the build reads, in a stable order."""
    files = [BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for d in (ROOT / "src" / "main" / "scala", BENCH / "src"):
        files += sorted(p for p in d.rglob("*.scala") if p.is_file())
    return files


def build():
    """Compile engine + harness unless the last build saw these sources."""
    engine = ROOT / "src" / "main" / "scala" / "graft"
    if not engine.is_dir():
        fail(f"engine sources missing ({engine}); run from a full checkout")
    h = hashlib.sha256()
    for f in sources():
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    stamp = BUILD / "build.stamp"
    if stamp.exists() and stamp.read_text() == h.hexdigest() and CLASSES.is_dir():
        return
    BUILD.mkdir(exist_ok=True)
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = env.get("SBT_OPTS", "")
    if "-Dsbt.offline=true" not in opts:
        opts += " -Dsbt.offline=true"
    env["SBT_OPTS"] = (opts + " -Dsbt.server.autostart=false").strip()
    log = BUILD / "build.log"
    with open(log, "w") as out:
        rc = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                       BENCH, env, out, BUILD_LIMIT_S)
    if rc != 0 or not CLASSES.is_dir():
        sys.stderr.write(log.read_text()[-4000:])
        fail(f"build failed (exit {rc}); log in {log}")
    stamp.write_text(h.hexdigest())


def run_child(cmd, cwd, env, stdout, limit, stderr=subprocess.STDOUT):
    """Run `cmd` in its own process group; kill the group on timeout.
    Returns the exit code (None on timeout)."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout, stderr=stderr,
                         start_new_session=True)
    try:
        return p.wait(timeout=limit)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true")
    a = ap.parse_args()
    if not (DATA / "events.parquet").is_file():
        fail(f"corpus missing ({DATA})")
    if not os.environ.get("SPARK_HOME"):
        fail("SPARK_HOME is not set")
    build()
    t0 = time.monotonic()

    run_dir = BUILD / "runs" / f"{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    (run_dir / "tmp").mkdir(parents=True)
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    env["SPARK_LOCAL_DIRS"] = str(run_dir / "scratch")
    java = str(Path(os.environ["JAVA_HOME"]) / "bin" / "java") \
        if "JAVA_HOME" in os.environ else "java"
    spark_home = os.environ["SPARK_HOME"]
    cmd = [java, "-Xmx4g",
           f"-Djava.io.tmpdir={run_dir / 'tmp'}", f"-Dderby.system.home={run_dir}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", f"{CLASSES}:{spark_home}/jars/*", "graft.perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--data", str(DATA), "--run-dir", str(run_dir),
            "--expected", str(EXPECTED), "--record", "1" if a.record else "0"]
    log = BUILD / "logs" / f"{a.workload}-{a.seed}.log"
    log.parent.mkdir(exist_ok=True)
    out_path = run_dir / "stdout"
    try:
        with open(out_path, "w") as out, open(log, "w") as err:
            rc = run_child(cmd, run_dir, env, out,
                           RUN_LIMIT_S - (time.monotonic() - t0), stderr=err)
        lines = out_path.read_text().splitlines()
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    if rc != 0 or not lines:
        sys.stderr.write("".join(open(log).readlines()[-40:]))
        fail(f"{a.workload} run failed (exit {rc}); log in {log}")
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail(f"malformed result line: {lines[-1][:200]}")
    for line in lines[:-1]:
        print(line)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
