#!/usr/bin/env python3
"""Benchmark entry point. Run from the repository root:

    python3 perfbench/run.py --workload pages_tiles --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --list          # every metric by name and unit
    python3 perfbench/run.py --report        # every workload once, all end-to-end metrics
    python3 perfbench/run.py --self-test     # the benchmark's own tests

Builds the program and the benchmark from source (perfbench/build.py), then
runs one JVM at local[nproc]. The last line of standard output is the JSON
result.
"""
import json
import os
import pathlib
import shutil
import signal
import subprocess
import sys
import time

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ["pages_tiles", "pages_lake", "city_chain", "curation_lake"]
# a run is stopped after this many seconds plus 2.5 times its --seconds
# (set-up, warm-up and a traced run's companion passes fit in the rest)
RUN_LIMIT_BASE_S = 125
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def run_limit(seconds: str) -> float:
    return RUN_LIMIT_BASE_S + 2.5 * float(seconds)


def java(main: str, args: list, limit: float) -> int:
    """Runs `main` on the built classpath with a work directory inside
    .bench_build, kills it after `limit` seconds, and removes the work
    directory afterwards. Returns the exit code."""
    classes = build.build()
    work = (build.BUILD_DIR / "work" / str(os.getpid())).resolve()
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    opens = [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    log4j = pathlib.Path(__file__).resolve().parent / "log4j2.properties"
    # a 1.5 GB heap floor: left to size the heap from its default, G1
    # settled on a different heap in each run, and peak RSS followed it
    cmd = ["java", *opens, "-XX:-UsePerfData", "-Xms1536m", "-Xmx3g", "-Xss8m", f"-Djava.io.tmpdir={work / 'tmp'}",
           f"-Dlog4j2.configurationFile={log4j}",
           f"-Dperfbench.work={work}", "-cp", f"{classes}{os.pathsep}{build.spark_jars() / '*'}",
           main, *args]
    # Spark's scratch space stays in the work directory (the variable would
    # override spark.local.dir)
    env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
    proc = subprocess.Popen(cmd, env=env)
    # terminating this script stops the JVM too
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        return proc.wait(timeout=limit)
    except subprocess.TimeoutExpired:
        print(f"perfbench: run exceeded {limit:.0f} s, stopped", file=sys.stderr)
        return 3
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)


def parse(argv: list) -> dict:
    opts = {}
    it = iter(argv)
    for a in it:
        if not a.startswith("--"):
            sys.exit(f"perfbench: unexpected argument {a}")
        opts[a[2:]] = True if a in ("--list", "--report", "--self-test") else next(it, "")
    return opts


def self_test() -> int:
    rc = java("perfbench.SelfTest", [], RUN_LIMIT_BASE_S)
    out = subprocess.run([sys.executable, __file__, "--list"], capture_output=True, text=True).stdout
    listed = {(k, n, u) for k, n, u in (l.split()[:3] for l in out.splitlines())}
    spec = json.loads(pathlib.Path("BENCHMARK.json").read_text())
    want = {("end_to_end", m["name"], m["unit"]) for m in spec["end_to_end"]} | \
           {("per_layer", m["name"], m["unit"]) for m in spec["per_layer"]}
    missing = want - listed
    print(f"BENCHMARK.json metrics reported by the benchmark: {'ok' if not missing else missing}")
    return rc or (1 if missing else 0)


def report(seed: str, seconds: str) -> int:
    rows, rc = [], 0
    for w in WORKLOADS:
        p = subprocess.run([sys.executable, __file__, "--workload", w, "--seed", seed,
                            "--seconds", seconds, "--trace", "0", "--scaling", "1"],
                           capture_output=True, text=True)
        rc = rc or p.returncode
        rows += [l.split()[1:] for l in p.stdout.splitlines() if l.startswith("metric ")]
    for w, name, value, unit in rows:
        print(f"{w:14s} {name:18s} {float(value):14.4f} {unit}")
    return rc


def main() -> int:
    opts = parse(sys.argv[1:])
    if not build.PROGRAM_SRC.is_dir():
        print("perfbench: src/main/scala not found; run from the repository root", file=sys.stderr)
        return 2
    if opts.get("list"):
        return java("perfbench.Bench", ["--list"], RUN_LIMIT_BASE_S)
    if opts.get("self-test"):
        return self_test()
    if opts.get("report"):
        return report(opts.get("seed", "1"), opts.get("seconds", "20"))
    w = opts.get("workload")
    if w not in WORKLOADS:
        print(f"perfbench: --workload must be one of {', '.join(WORKLOADS)}", file=sys.stderr)
        return 2
    build.build()  # the first run of a checkout builds; the time limit starts after it
    started = time.time()
    seconds = str(opts.get("seconds", "20"))
    rc = java("perfbench.Bench", ["--workload", w, "--seed", str(opts.get("seed", "1")),
                                  "--seconds", seconds,
                                  "--trace", str(opts.get("trace", "0")),
                                  "--scaling", str(opts.get("scaling", "0"))], run_limit(seconds))
    print(f"perfbench: {w} took {time.time() - started:.1f} s", file=sys.stderr)
    return rc


if __name__ == "__main__":
    sys.exit(main())
