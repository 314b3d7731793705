#!/usr/bin/env python3
"""One benchmark run: build the program from source if needed, run one
workload in a fresh JVM, and print its result object as the last line.

Usage (from the repository root):
  python3 perfbench/run.py --workload <sorted|query_mix>
      --seed <n> --seconds <s> --trace <0|1>

Everything the run writes stays under the build directory
($CARGO_TARGET_DIR or .bench_build, plus /perfbench): the compiled classes,
a per-run work directory (removed at the end), the standing store that
SparkEntry.prepare keeps between runs of the same sources, and the run
records. Classes and standing store are keyed by a hash of the sources, so
two commits run from one build directory never share either.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

ROOT = build.ROOT
BENCH = ROOT / "perfbench"
WORKLOADS = ("sorted", "query_mix")
RUN_LIMIT_S = 175.0
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=float)
    p.add_argument("--trace", required=True, choices=("0", "1"))
    return p.parse_args(argv)


def expected_metrics(trace: str):
    """Metric names BENCHMARK.json promises for this mode, if it is present."""
    spec = ROOT / "BENCHMARK.json"
    if not spec.is_file():
        return None
    data = json.loads(spec.read_text())
    return [m["name"] for m in data["end_to_end" if trace == "0" else "per_layer"]]


def jvm_command(args, classes: Path, work: Path, tmpdir: Path, records: Path):
    cores = max(1, min(4, os.cpu_count() or 1))
    opens = [x for p in JVM_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
    cp = os.pathsep.join([str(classes), str(build.spark_jars() / "*")])
    return ["java", *opens, "-Xmx3g", "-XX:-UsePerfData",
            "-Djava.io.tmpdir=" + str(tmpdir),
            "-Dlog4j2.configurationFile=" + str(BENCH / "log4j2.properties"),
            "-cp", cp, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", args.trace,
            "--cores", str(cores), "--work", str(work), "--records", str(records),
            "--fixtures", str(BENCH / "fixtures" / "sf0.001"),
            "--golden", str(BENCH / "golden" / "query_mix.json")]


def main(argv) -> int:
    args = parse_args(argv)
    start = time.monotonic()
    build_dir = build.default_build_dir()
    classes, key = build.ensure_built(build_dir)
    work = build_dir / "work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    # the standing store outlives the run: the first query_mix run of these
    # sources builds it, later ones take prepare's reload path
    tmpdir = build_dir / f"standing-{key}" if args.workload == "query_mix" else work / "tmp"
    records = build_dir / "records"
    for d in (work, tmpdir, records):
        d.mkdir(parents=True, exist_ok=True)
    cmd = jvm_command(args, classes, work, tmpdir, records)
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=max(30.0, RUN_LIMIT_S - (time.monotonic() - start)))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        print("perfbench: run exceeded its time limit", file=sys.stderr)
        return 3
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = out.splitlines()
    results = [i for i, l in enumerate(lines) if l.startswith('{"correct"')]
    if proc.returncode != 0 or not results:
        sys.stdout.write("\n".join(lines) + "\n")
        print(f"perfbench: run failed (exit {proc.returncode})", file=sys.stderr)
        return proc.returncode or 1
    result = lines[results[-1]]
    names = expected_metrics(args.trace)
    got = list(json.loads(result)["metrics"])
    if names is not None and sorted(got) != sorted(names):
        print(f"perfbench: metrics {sorted(set(got) ^ set(names))} disagree with BENCHMARK.json",
              file=sys.stderr)
        return 4
    for i, l in enumerate(lines):
        if i != results[-1]:
            print(l)
    print(result)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
