#!/usr/bin/env python3
"""Benchmark runner for the Spark engine in this repository.

    python3 perfbench/run.py --workload graph_loops --seed 1 --seconds 5 --trace 0

Run from the repository root. The first call builds the engine and the
benchmark program from source with sbt (perfbench/build.sbt) into
.bench_build/perfbench.jar, then makes a class-data archive of the
classes a run loads (.bench_build/perfbench.jsa), which cuts JVM and
Spark start-up by several seconds; later calls reuse both while the
sources are unchanged. Each call then starts one JVM that runs one
workload on Spark local[nproc] with a pinned heap and collector, and
passes its stdout through. The last line is the result object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 prints the end-to-end metrics, --trace 1 the per-layer ones.

Other modes:
    python3 perfbench/run.py --self-test          the benchmark's own tests (sbt test)
    python3 perfbench/run.py --record-baseline    traced runs of every workload at seed 1,
                                                  written to perfbench/baseline_trace.json;
                                                  refused unless every run is canonical
"""

import argparse
import fcntl
import hashlib
import json
import os
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
JAR = BUILD / "perfbench.jar"
STAMP = BUILD / "perfbench.sources.sha256"
ARCHIVE = BUILD / "perfbench.jsa"
HEAP = "2g"
GC = "-XX:+UseParallelGC"  # the collector the engine's own bench pins
# first call in a checkout may build; later calls must finish well inside 180 s
FIRST_BUDGET_S = 880
RUN_BUDGET_S = 170

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]

WORKLOADS = ["graph_loops", "swing_recs", "ml_pipeline", "text_curate"]


def fail(msg, code):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    roots = [ROOT / "src" / "main", HERE / "src" / "main"]
    files = [HERE / "build.sbt", HERE / "project" / "build.properties"]
    for r in roots:
        if r.is_dir():
            files += sorted(p for p in r.rglob("*") if p.is_file())
    return files


def sources_digest():
    h = hashlib.sha256()
    for p in source_files():
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx3g")
    return env


def sbt(*commands, log):
    tmp = BUILD / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
           f"-Djava.io.tmpdir={tmp}", *commands]
    with open(log, "w") as out:
        return subprocess.run(cmd, cwd=HERE, env=sbt_env(), stdout=out, stderr=subprocess.STDOUT,
                              stdin=subprocess.DEVNULL).returncode


def ensure_built():
    """Compiles the engine plus the benchmark program unless the last build saw the
    same sources. Returns True when it had to build."""
    BUILD.mkdir(exist_ok=True)
    with open(BUILD / "perfbench.lock", "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        digest = sources_digest()
        if JAR.is_file() and STAMP.is_file() and STAMP.read_text() == digest:
            return False
        log = BUILD / "perfbench-build.log"
        if sbt("package", log=log) != 0:
            tail = log.read_text().splitlines()[-30:]
            fail("build failed:\n" + "\n".join(tail), 3)
        # one short traced run loads the classes every run needs (Spark,
        # parquet, MLlib, the engine); the JVM archives them at exit
        ARCHIVE.unlink(missing_ok=True)
        with open(log, "a") as out:
            subprocess.run(jvm([f"-XX:ArchiveClassesAtExit={ARCHIVE}"], "perfbench.Main",
                               "--workload", "ml_pipeline", "--seed", "0", "--seconds", "0",
                               "--trace", "1", "--work-dir", str(BUILD / "perfbench-work")),
                           cwd=ROOT, stdout=out, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
        STAMP.write_text(digest)
        return True


def jvm(options, main, *argv):
    """The java command line for `main`: pinned heap and collector, the
    module openings Spark needs, JVM warnings on stderr."""
    spark_home = os.environ.get("SPARK_HOME")
    if not spark_home or not (Path(spark_home) / "jars").is_dir():
        fail("SPARK_HOME must point at a Spark 4.x distribution", 2)
    java_home = os.environ.get("JAVA_HOME")
    java = str(Path(java_home) / "bin" / "java") if java_home else "java"
    tmp = BUILD / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cp = os.pathsep.join([str(JAR), str(Path(spark_home) / "jars" / "*")])
    return [java, f"-Xms{HEAP}", f"-Xmx{HEAP}", GC, "-Xlog:disable", "-Xlog:all=warning:stderr",
            *options, *opens, f"-Djava.io.tmpdir={tmp}", "-cp", cp, main, *argv]


def java_command(args):
    archive = [f"-XX:SharedArchiveFile={ARCHIVE}"] if ARCHIVE.is_file() else []
    return jvm(archive, "perfbench.Main",
               "--workload", args.workload, "--seed", str(args.seed),
               "--seconds", str(args.seconds), "--trace", str(args.trace),
               "--work-dir", str(BUILD / "perfbench-work"))


def expected_names(trace):
    """Metric names BENCHMARK.json promises for this mode, if it exists."""
    index = ROOT / "BENCHMARK.json"
    if not index.is_file():
        return None
    spec = json.loads(index.read_text())
    return [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]


def run_jvm(args, budget_s):
    """Runs the benchmark JVM and relays its stdout. Returns (exit code, last line)."""
    proc = subprocess.Popen(java_command(args), cwd=ROOT, stdout=subprocess.PIPE,
                            stdin=subprocess.DEVNULL, text=True)
    try:
        out, _ = proc.communicate(timeout=max(1.0, budget_s))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"run exceeded its {budget_s:.0f} s budget", 4)
    lines = out.splitlines()
    for line in lines[:-1]:
        print(line)
    return proc.returncode, (lines[-1] if lines else None)


def bench(args):
    t0 = time.monotonic()
    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        fail(f"no engine sources under {ROOT / 'src' / 'main' / 'scala'}: run from a checkout", 2)
    built = ensure_built()
    budget = (FIRST_BUDGET_S if built else RUN_BUDGET_S) - (time.monotonic() - t0)
    code, last = run_jvm(args, budget)
    if code != 0 or last is None:
        fail(f"benchmark JVM exited with code {code}", code or 5)
    result = json.loads(last)
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail("benchmark JVM printed no result object", 5)
    want = expected_names(args.trace)
    if want is not None and sorted(result["metrics"]) != sorted(want):
        fail(f"metrics {sorted(result['metrics'])} differ from BENCHMARK.json {sorted(want)}", 5)
    print(last, flush=True)


def record_baseline(seconds):
    """Traced runs of every workload at seed 1, kept as the per-layer
    baseline later changes cite. Non-canonical runs are refused."""
    out = {}
    for w in WORKLOADS:
        cmd = [sys.executable, str(HERE / "run.py"), "--workload", w, "--seed", "1",
               "--seconds", str(seconds), "--trace", "1"]
        res = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
        if res.returncode != 0:
            fail(f"{w}: traced run failed", res.returncode)
        lines = [json.loads(l) for l in res.stdout.splitlines() if l.startswith("{")]
        # paths in the stamp are recorded relative to the checkout
        stamp = json.loads(json.dumps(next(l["stamp"] for l in lines if "stamp" in l))
                           .replace(str(ROOT), "."))
        if not stamp["canonical"]:
            fail(f"{w}: run is not canonical (extra conf or overrides: "
                 f"{stamp['extra_conf']} {stamp['inherited_conf']} {stamp['env']}); not recorded", 6)
        result = lines[-1]
        if not result["correct"]:
            fail(f"{w}: traced run was not correct; not recorded", 6)
        out[w] = {"stamp": stamp, "per_layer": {k: v["value"] for k, v in result["metrics"].items()}}
    (HERE / "baseline_trace.json").write_text(json.dumps(out, indent=1, sort_keys=True) + "\n")


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=[0, 1])
    ap.add_argument("--self-test", action="store_true")
    ap.add_argument("--record-baseline", action="store_true")
    args = ap.parse_args()
    if args.self_test:
        BUILD.mkdir(exist_ok=True)
        log = BUILD / "perfbench-test.log"
        code = sbt("test", log=log)
        print(log.read_text())
        sys.exit(code)
    if args.record_baseline:
        record_baseline(args.seconds or json.loads((ROOT / "BENCHMARK.json").read_text())["run_seconds"])
        return
    if None in (args.workload, args.seed, args.seconds, args.trace):
        ap.error("--workload, --seed, --seconds and --trace are required")
    bench(args)


if __name__ == "__main__":
    main()
