#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program (src/main/scala) and the
harness (perfbench/src) with the Scala compiler that ships in Spark's jar
directory, into <build dir>/classes-<key>. The key is a hash over every source
file's path and content, so a second call with the same sources is a no-op and
two commits built into one build directory each keep their own classes.

Usage: python3 perfbench/build.py [build dir]   (default: $CARGO_TARGET_DIR or
.bench_build, plus /perfbench)
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SCALA_VERSION = "2.13.17"


def spark_jars() -> Path:
    return Path(os.environ.get("SPARK_HOME", "/opt/spark")) / "jars"


def default_build_dir() -> Path:
    return (ROOT / os.environ.get("CARGO_TARGET_DIR", ".bench_build")) / "perfbench"


def sources() -> list:
    program = sorted((ROOT / "src" / "main" / "scala").rglob("*.scala"))
    harness = sorted((ROOT / "perfbench" / "src").rglob("*.scala"))
    if not program:
        raise SystemExit("perfbench: no program sources under src/main/scala")
    return program + harness


def stamp(files: list) -> str:
    h = hashlib.sha256(SCALA_VERSION.encode())
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def ensure_built(build_dir: Path):
    """Compile unless these sources are built already; return the classes
    directory and the sources' key."""
    files = sources()
    key = stamp(files)[:12]
    classes = build_dir / f"classes-{key}"
    if classes.is_dir():
        return classes, key
    jars = spark_jars()
    compiler = [jars / f"scala-{m}-{SCALA_VERSION}.jar" for m in ("compiler", "library", "reflect")]
    missing = [str(j) for j in compiler if not j.is_file()]
    if missing:
        raise SystemExit("perfbench: Scala compiler jars not found: " + ", ".join(missing))
    build_dir.mkdir(parents=True, exist_ok=True)
    staging = build_dir / f"classes-{key}.tmp"
    shutil.rmtree(staging, ignore_errors=True)
    staging.mkdir()
    argfile = build_dir / f"sources-{key}.txt"
    argfile.write_text("\n".join(str(f) for f in files) + "\n")
    cmd = ["java", "-Xss16m", "-Xmx2g", "-XX:-UsePerfData",
           "-cp", os.pathsep.join(str(j) for j in compiler),
           "scala.tools.nsc.Main", "-nowarn", "-usejavacp:false",
           "-classpath", str(jars / "*"), "-d", str(staging), "@" + str(argfile)]
    res = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if res.returncode != 0:
        raise SystemExit(f"perfbench: compilation failed ({res.returncode})")
    staging.rename(classes)
    return classes, key


if __name__ == "__main__":
    target = Path(sys.argv[1]) if len(sys.argv) > 1 else default_build_dir()
    print(ensure_built(target)[0])
